"""Multimodal plumbing tests: schemas, batch shapes, fan-out counts,
and determinism of the fake-codec stubs (the Spark-side contract that
stays identical when real codecs are swapped in).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mie_spark.operators.multimodal import (
    attach_binary_payload,
    decode_frames,
    decode_image_meta,
    extract_features,
    resize_images,
)
from mie_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _assets(spark, n=20):
    docs = load_table(spark, SF, "documents").limit(n)
    return attach_binary_payload(docs)


def test_decode_meta_is_deterministic(spark):
    a = decode_image_meta(_assets(spark)).orderBy("asset_id").collect()
    b = decode_image_meta(_assets(spark)).orderBy("asset_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["n_bytes"] > 0 and len(r["content_sha"]) == 64 for r in a)


def test_frame_fanout_counts(spark):
    assets = _assets(spark, 5)
    sizes = {
        r["asset_id"]: r["n"]
        for r in assets.select(
            "asset_id", F.length("payload").alias("n")
        ).collect()
    }
    frames = decode_frames(assets, every_n=64, codec="fake")
    counts = {
        r["asset_id"]: r["cnt"]
        for r in frames.groupBy("asset_id").agg(F.count("*").alias("cnt")).collect()
    }
    for aid, nbytes in sizes.items():
        assert counts[aid] == math.ceil(nbytes / 64)


def test_real_codecs_error_loudly(spark):
    assets = _assets(spark, 2)
    with pytest.raises(NotImplementedError):
        decode_frames(assets, codec="real")
    with pytest.raises(NotImplementedError):
        resize_images(assets, codec="real")


def test_resize_emits_fixed_payload_size(spark):
    resized = resize_images(_assets(spark, 10), width=64, height=64, codec="fake")
    rows = resized.select(F.length("payload").alias("n"), "width", "height").collect()
    assert all(r["n"] == 64 * 64 // 8 and r["width"] == 64 for r in rows)


def test_features_are_unit_norm_and_stable(spark):
    feats = extract_features(_assets(spark, 10), dim=8).collect()
    for r in feats:
        v = r["features"]
        assert len(v) == 8
        assert abs(sum(x * x for x in v) - 1.0) < 1e-5
    again = extract_features(_assets(spark, 10), dim=8).collect()
    assert [r["features"] for r in feats] == [r["features"] for r in again]


def test_chunk_audio_boundaries_and_determinism(spark):
    """Chunk spans tile the signal with the configured hop/overlap, RMS
    is bit-reproducible across runs, and the real codec path errors."""
    import pytest as _pytest

    from mie_spark.operators.multimodal import attach_binary_payload, chunk_audio
    from mie_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    assets = attach_binary_payload(docs)
    with _pytest.raises(NotImplementedError):
        chunk_audio(assets, codec="real").count()

    out = chunk_audio(
        assets, sample_rate=1000, chunk_ms=2000, overlap_ms=500, codec="fake"
    )
    rows = out.collect()
    assert rows
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for chunks in by_asset.values():
        chunks.sort(key=lambda r: r["chunk_idx"])
        # hop = 1.5s at 1 kHz → consecutive starts differ by 1500 ms
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_ms"] - a["start_ms"] == 1500
        for r in chunks:
            assert 0 < r["n_samples"] <= 2000
            assert r["end_ms"] - r["start_ms"] == r["n_samples"]  # 1 kHz
    again = {
        (r["asset_id"], r["chunk_idx"]): r["rms"]
        for r in chunk_audio(
            assets, sample_rate=1000, chunk_ms=2000, overlap_ms=500, codec="fake"
        ).collect()
    }
    assert {(r["asset_id"], r["chunk_idx"]): r["rms"] for r in rows} == again


def _ppm_bytes(w=8, h=6):
    import numpy as np

    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.arange(w, dtype=np.uint8) * 30          # red gradient →
    img[..., 1] = np.arange(h, dtype=np.uint8)[:, None] * 40  # green gradient ↓
    return f"P6\n# comment\n{w} {h}\n255\n".encode() + img.tobytes(), img


def test_parse_ppm_real_codec():
    from mie_spark.operators.multimodal import parse_ppm

    raw, img = _ppm_bytes()
    w, h, px = parse_ppm(raw)
    assert (w, h) == (8, 6)
    assert (px == img).all()


def test_resize_ppm_spark(spark):
    from mie_spark.operators.multimodal import parse_png

    raw, img = _ppm_bytes(w=8, h=6)
    df = spark.createDataFrame([(7, bytearray(raw))], ["asset_id", "payload"])
    row = resize_images(df, 4, 3, codec="auto").collect()[0]
    assert (row["width"], row["height"]) == (4, 3)
    w, h, px = parse_png(bytes(row["payload"]))
    assert (w, h) == (4, 3)
    # nearest-neighbor: output pixel (y,x) == input pixel (y*6//3, x*8//4)
    assert (px == img[::2, ::2]).all()


def test_phash_inline_parser_matches_module_parser(spark):
    """image_phash ships a closure-inlined copy of the PPM parser (the
    documented worker-pickling constraint); this pins the two copies to
    the same parse on the header quirks most likely to drift — a '#'
    comment in the header and multi-whitespace separators. If the
    inline copy ever mishandles either, the hash of the commented
    variant diverges from the plain one here."""
    from mie_spark.operators.multimodal import image_phash

    raw, _ = _ppm_bytes(w=16, h=16)
    # same image, re-encoded with a comment + extra whitespace after P6
    commented = b"P6\n# a comment line\n  16  16 \n255\n" + raw[raw.index(b"255\n") + 4:]
    df = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(commented))],
        ["asset_id", "payload"],
    )
    out = {r["asset_id"]: r["phash"] for r in image_phash(df).collect()}
    assert out[1] == out[2]


# A real, valid 1x1 PNG (IHDR width=1 height=1); standard minimal file.
_PNG_1x1 = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489"
    "0000000d49444154789c626001000000ffff03000006000557bfabd40000000049454e44ae426082"
)
# JPEG with a comment segment before SOF0 (height=42, width=69): the
# sniffer must WALK segments, not assume SOF0 at a fixed offset.
_JPEG_HDR = (
    b"\xff\xd8"                      # SOI
    b"\xff\xfe\x00\x04ab"            # COM segment, len 4
    b"\xff\xc0\x00\x11\x08\x00\x2a\x00\x45\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"  # SOF0
    b"\xff\xd9"                      # EOI
)
_GIF_HDR = b"GIF89a" + (7).to_bytes(2, "little") + (9).to_bytes(2, "little") + b"\x00" * 20


def test_sniff_image_meta_real_headers():
    from mie_spark.operators.multimodal import sniff_image_meta

    assert sniff_image_meta(_PNG_1x1) == ("image/png", 1, 1)
    assert sniff_image_meta(_JPEG_HDR) == ("image/jpeg", 69, 42)
    assert sniff_image_meta(_GIF_HDR) == ("image/gif", 7, 9)
    assert sniff_image_meta(b"not an image at all") is None
    # 0xFF fill-byte padding before a segment (spec-legal) must not be
    # misread as a segment header
    padded = b"\xff\xd8" + b"\xff\xff\xff" + _JPEG_HDR[2:]
    assert sniff_image_meta(padded) == ("image/jpeg", 69, 42)
    # truncated JPEG (no SOF before the bytes run out) degrades to None
    assert sniff_image_meta(_JPEG_HDR[:6]) is None
    # PPM rides the real parse_ppm header path
    ppm, _ = _ppm_bytes(w=16, h=16)
    assert sniff_image_meta(ppm) == ("image/x-portable-pixmap", 16, 16)


def test_decode_image_meta_header_codec(spark):
    """codec='header' reads REAL compressed-image dimensions via Spark;
    unrecognized payloads degrade to octet-stream with null dims
    instead of failing the batch."""
    df = spark.createDataFrame(
        [
            (1, bytearray(_PNG_1x1), "x"),
            (2, bytearray(_JPEG_HDR), "x"),
            (3, bytearray(_GIF_HDR), "x"),
            (4, bytearray(b"garbage"), "x"),
        ],
        ["asset_id", "payload", "media_type"],
    )
    out = {r["asset_id"]: r for r in decode_image_meta(df, codec="header").collect()}
    assert (out[1]["media_type"], out[1]["width"], out[1]["height"]) == ("image/png", 1, 1)
    assert (out[2]["width"], out[2]["height"]) == (69, 42)
    assert (out[3]["width"], out[3]["height"]) == (7, 9)
    assert out[4]["media_type"] == "application/octet-stream"
    assert out[4]["width"] is None and out[4]["height"] is None
    # content_sha still computed for every row (catalog invariant)
    assert all(len(r["content_sha"]) == 64 for r in out.values())


def test_resize_images_pil_real_bytes(spark):
    """Real decode→resize→re-encode round-trip, gated on Pillow being
    installed (skips cleanly where it is not)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (8, 6), color=(200, 10, 10)).save(buf, format="JPEG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "image/jpeg")],
        ["asset_id", "payload", "media_type"],
    )
    rows = resize_images(df, width=4, height=4, codec="pil").collect()
    assert rows[0]["width"] == 4 and rows[0]["height"] == 4
    with PIL_Image.open(io.BytesIO(bytes(rows[0]["payload"]))) as im:
        assert im.size == (4, 4) and im.format == "PNG"


def test_resize_images_pil_errors_without_pillow(spark):
    """Driver-side probe: the Pillow path fails immediately (not at
    task time) when Pillow is absent."""
    try:
        import PIL.Image  # noqa: F401

        pytest.skip("Pillow installed here; the guard path is unreachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        resize_images(_assets(spark, 1), codec="pil")


def _filter_png(img, ftype: int) -> bytes:
    """Encode a PNG whose EVERY scanline uses filter `ftype` — the
    forward-filter inverse of parse_png's unfilter, per PNG spec §9."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    rows = img.reshape(h, w * ch).astype(np.int32)
    scan = b""
    for y in range(h):
        cur, up = rows[y], (rows[y - 1] if y else np.zeros(w * ch, dtype=np.int32))
        line = np.zeros(w * ch, dtype=np.int32)
        for x in range(w * ch):
            left = cur[x - ch] if x >= ch else 0
            ul = up[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up[x]
            elif ftype == 3:
                pred = (left + up[x]) // 2
            else:
                p = left + up[x] - ul
                pa, pb, pc = abs(p - left), abs(p - up[x]), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up[x] if pb <= pc else ul)
            line[x] = (cur[x] - pred) & 0xFF
        scan += bytes([ftype]) + line.astype(np.uint8).tobytes()
    color = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b""))


def test_parse_png_roundtrip_and_all_filters():
    """parse_png reverses every PNG filter type (None/Sub/Up/Average/
    Paeth) bit-exactly, for gray, RGB and RGBA — proven by forward-
    filtering a reference image per spec and demanding the original
    back. png_from_array round-trips its own output."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_png, png_from_array

    rng = np.random.default_rng(11)
    for shape in [(6, 5), (6, 5, 3), (6, 5, 4)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        ref = img[:, :, None] if img.ndim == 2 else img
        w, h, back = parse_png(png_from_array(img))
        assert (w, h) == (5, 6) and np.array_equal(back, ref)
        for ftype in range(5):
            w, h, back = parse_png(_filter_png(img, ftype))
            assert np.array_equal(back, ref), (shape, ftype)


def test_parse_png_rejects_unsupported():
    import pytest as _pytest

    from mie_spark.operators.multimodal import parse_png

    with _pytest.raises(ValueError, match="signature"):
        parse_png(b"JFIF not png")
    with _pytest.raises(ValueError, match="truncated"):
        parse_png(b"\x89PNG\r\n\x1a\n")


def test_resize_png_spark_roundtrip(spark):
    """resize_images(codec='auto') on PNG: real PNG decode ->
    nearest-neighbor -> PNG re-encode through mapInPandas; output
    payloads decode to the target size with pixels gathered from the
    source."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_png, png_from_array

    rng = np.random.default_rng(5)
    imgs = {i: rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8) for i in (1, 2)}
    df = spark.createDataFrame(
        [(i, bytearray(png_from_array(m))) for i, m in imgs.items()],
        ["asset_id", "payload"],
    )
    rows = {r["asset_id"]: r for r in resize_images(df, 3, 4, codec="auto").collect()}
    for i, m in imgs.items():
        w, h, back = parse_png(bytes(rows[i]["payload"]))
        assert (w, h) == (3, 4)
        ys, xs = (np.arange(4) * 8) // 4, (np.arange(3) * 6) // 3
        assert np.array_equal(back, m[ys][:, xs])


def _gif_bytes(frames, palette, transparent_on=None):
    """Minimal GIF89a encoder for tests: global palette, one image
    block per full-size frame, 'uncompressed' LZW (min code size 8,
    CLEAR emitted every 250 literals so the code width stays 9 bits),
    optional transparency GCE before the chosen frame index."""
    import numpy as np

    palette = np.asarray(palette, dtype=np.uint8)
    h, w = frames[0].shape

    def lzw(idx_stream):
        codes = []
        run = 0
        codes.append(256)  # initial CLEAR
        for v in idx_stream:
            if run == 250:
                codes.append(256)
                run = 0
            codes.append(int(v))
            run += 1
        codes.append(257)  # END
        buf, acc, nbits = bytearray(), 0, 0
        for c in codes:
            acc |= c << nbits
            nbits += 9
            while nbits >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            buf.append(acc & 0xFF)
        return bytes(buf)

    out = bytearray()
    out += b"GIF89a"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    gct = np.zeros((256, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    out += gct.tobytes()
    for fi, frame in enumerate(frames):
        if transparent_on is not None and fi == transparent_on[0]:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent_on[1], 0])
        out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([0])
        out += bytes([8])  # LZW min code size
        data = lzw(frame.flatten())
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


def test_parse_gif_frames_and_transparency():
    """Real LZW decode: frames composite in order; a transparent index
    in frame 2 leaves frame 1's pixels showing through."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_gif

    palette = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    f0 = np.full((4, 6), 1, dtype=np.uint8)        # all red
    f1 = np.full((4, 6), 2, dtype=np.uint8)        # all green
    f1[0, :] = 3                                   # top row: transparent idx 3
    raw = _gif_bytes([f0, f1], palette, transparent_on=(1, 3))
    w, h, frames = parse_gif(raw)
    assert (w, h) == (6, 4) and len(frames) == 2
    assert (frames[0] == [255, 0, 0]).all()
    assert (frames[1][1:] == [0, 255, 0]).all()
    # transparent top row shows the PREVIOUS frame's red
    assert (frames[1][0] == [255, 0, 0]).all()


def test_parse_gif_long_stream_exercises_clear_codes():
    """>250 pixels forces the encoder's re-CLEAR path and the decoder's
    dictionary reset; decode must survive and reproduce exactly."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_gif

    rng = np.random.default_rng(9)
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    f = rng.integers(0, 256, size=(20, 30), dtype=np.uint8)
    w, h, frames = parse_gif(_gif_bytes([f], palette))
    assert (w, h) == (30, 20)
    assert np.array_equal(frames[0], palette[f])


def test_decode_frames_gif_spark(spark):
    """decode_frames(codec='gif'): real compressed-container frame
    sampling through mapInPandas; sampled frames come back as PNGs
    that decode to the composited GIF frames."""
    import numpy as np

    from mie_spark.operators.multimodal import decode_frames, parse_gif, parse_png

    rng = np.random.default_rng(4)
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    frames = [rng.integers(0, 256, size=(5, 4), dtype=np.uint8) for _ in range(5)]
    raw = _gif_bytes(frames, palette)
    df = spark.createDataFrame([(1, bytearray(raw))], ["asset_id", "payload"])
    rows = sorted(
        decode_frames(df, every_n=2, codec="gif").collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]  # frames 0, 2, 4
    _, _, truth = parse_gif(raw)
    for r, want in zip(rows, truth[::2]):
        _w, _h, img = parse_png(bytes(r["frame_bytes"]))
        assert np.array_equal(img, want)


def test_resize_images_auto_dispatch(spark):
    """codec='auto': PNG, PPM and GIF payloads in one batch resize
    through the stdlib codecs; the outputs are PNGs at the target size
    whose pixels are the nearest-neighbor gathers of each source."""
    import numpy as np

    from mie_spark.operators.multimodal import (
        parse_gif,
        parse_png,
        parse_ppm,
        png_from_array,
        resize_images,
    )

    rng = np.random.default_rng(6)
    png_src = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    ppm_raw, ppm_img = _ppm_bytes(w=10, h=12)
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    gif_idx = rng.integers(0, 256, size=(7, 9), dtype=np.uint8)
    gif_raw = _gif_bytes([gif_idx], palette)
    df = spark.createDataFrame(
        [
            (1, bytearray(png_from_array(png_src))),
            (2, bytearray(ppm_raw)),
            (3, bytearray(gif_raw)),
        ],
        ["asset_id", "payload"],
    )
    rows = {r["asset_id"]: r for r in resize_images(df, 4, 5, codec="auto").collect()}

    def want(img):
        ys = (np.arange(5) * img.shape[0]) // 5
        xs = (np.arange(4) * img.shape[1]) // 4
        return img[ys][:, xs]

    for aid, src in ((1, png_src), (2, ppm_img), (3, palette[gif_idx])):
        w, h, back = parse_png(bytes(rows[aid]["payload"]))
        assert (w, h) == (4, 5)
        assert np.array_equal(back, want(src)), aid


def test_resize_images_auto_unknown_without_pillow_errors(spark):
    import pytest as _pytest

    try:
        import PIL.Image  # noqa: F401

        _pytest.skip("Pillow installed; the no-decoder path is unreachable")
    except ImportError:
        pass
    df = spark.createDataFrame([(1, bytearray(b"mystery bytes"))], ["asset_id", "payload"])
    with _pytest.raises(Exception, match="without Pillow"):
        from mie_spark.operators.multimodal import resize_images

        resize_images(df, 4, 4, codec="auto").collect()


def test_png_gif_edge_sizes():
    """Degenerate shapes a crawl will contain: 1x1, single-row, and
    single-column images round-trip through both stdlib codecs."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_gif, parse_png, png_from_array

    rng = np.random.default_rng(13)
    for shape in [(1, 1, 3), (1, 9, 3), (9, 1, 3), (1, 1), (2, 2, 4)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        ref = img[:, :, None] if img.ndim == 2 else img
        w, h, back = parse_png(png_from_array(img))
        assert (h, w) == ref.shape[:2] and np.array_equal(back, ref), shape
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    for hw in [(1, 1), (1, 7), (7, 1)]:
        f = rng.integers(0, 256, size=hw, dtype=np.uint8)
        w, h, frames = parse_gif(_gif_bytes([f], palette))
        assert (h, w) == hw and np.array_equal(frames[0], palette[f])


def test_sniffer_and_decoders_never_crash_on_garbage():
    """Random bytes (including ones that start with each magic prefix)
    must never raise out of the sniffer; the strict decoders may reject
    them with any ordinary exception (ValueError / zlib.error /
    IndexError on truncation) but must always return control — no
    hangs, no interpreter-level failures — with a printable message."""
    import random

    from mie_spark.operators.multimodal import parse_gif, parse_png, sniff_image_meta

    rng = random.Random(21)
    prefixes = [b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF89a", b"P6 "]
    for trial in range(300):
        raw = rng.choice(prefixes) + bytes(
            rng.getrandbits(8) for _ in range(rng.randrange(0, 64))
        )
        out = sniff_image_meta(raw)  # must not raise
        assert out is None or (isinstance(out, tuple) and len(out) == 3)
        for dec in (parse_png, parse_gif):
            try:
                dec(raw)
            except Exception as e:  # noqa: BLE001 — the property IS catchability
                assert str(e) != ""


def _adam7_png(img):
    """Forward Adam7 interlacer per spec (filter-0 sub-scanlines) —
    the encoder partner of parse_png's interlaced path."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    scan = b""
    for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)):
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            scan += b"\x00" + row.tobytes()

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1))
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b""))


def test_parse_png_adam7_interlaced():
    """Adam7: forward-interlace a reference image per spec (7 passes of
    filter-0 sub-scanlines), and demand parse_png scatter it back
    bit-exactly — including sizes where some passes are empty."""
    import numpy as np

    from mie_spark.operators.multimodal import parse_png

    rng = np.random.default_rng(17)
    for shape in [(9, 11, 3), (3, 2, 4), (1, 1, 3), (16, 16)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        ref = img[:, :, None] if img.ndim == 2 else img
        w, h, back = parse_png(_adam7_png(img))
        assert (h, w) == ref.shape[:2] and np.array_equal(back, ref), shape


def test_adam7_bytes_decode_identically_in_pillow():
    """Cross-engine conformance: the Adam7 files our test encoder
    produces (and parse_png reads) must decode to the same pixels in an
    independent implementation. Skips where Pillow is absent."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from mie_spark.operators.multimodal import png_from_array

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    with PIL_Image.open(io.BytesIO(png_from_array(img))) as im:
        assert np.array_equal(np.asarray(im.convert("RGB")), img)
    with PIL_Image.open(io.BytesIO(_adam7_png(img))) as im:
        assert np.array_equal(np.asarray(im.convert("RGB")), img)


def test_parse_png_palette():
    """Color type 3: the index plane maps through PLTE to RGB; works
    interlaced too; tRNS raises rather than mis-rendering."""
    import struct
    import zlib

    import numpy as np

    from mie_spark.operators.multimodal import parse_png

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    rng = np.random.default_rng(29)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(5, 7), dtype=np.uint8)
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(5))
    raw = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", palette.tobytes())
           + chunk(b"IDAT", zlib.compress(scan))
           + chunk(b"IEND", b""))
    w, h, img = parse_png(raw)
    assert (w, h) == (7, 5) and np.array_equal(img, palette[idx])

    with_trns = raw.replace(chunk(b"IEND", b""),
                            chunk(b"tRNS", b"\x00") + chunk(b"IEND", b""))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tRNS"):
        parse_png(with_trns)


def _mjpeg_avi(n_frames=6, w=32, h=24, quality=92, fps=5):
    import numpy as np

    from mie_spark.operators.jpeg import jpeg_from_array
    from mie_spark.operators.multimodal import avi_from_jpeg_frames

    frames = []
    for t in range(n_frames):
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(xx * 8 + t * 10) % 230, (yy * 9) % 230, ((xx + yy) * 5 + t * 20) % 230],
            -1,
        ).astype(np.uint8)
        frames.append(jpeg_from_array(img, quality=quality))
    return frames, avi_from_jpeg_frames(frames, w, h, fps=fps)


def test_avi_mjpeg_round_trip():
    """The RIFF/AVI writer and parser are exact inverses on the frame
    payloads, and the header metadata survives."""
    from mie_spark.operators.multimodal import parse_avi_mjpeg

    frames, avi = _mjpeg_avi()
    (w, h, rate, scale, n), out = parse_avi_mjpeg(avi)
    assert (w, h) == (32, 24)
    assert (rate, scale) == (5, 1)
    assert n == 6
    assert out == frames  # byte-for-byte


def test_avi_mjpeg_rejects_interframe_codecs():
    import pytest as _pytest

    from mie_spark.operators.multimodal import parse_avi_mjpeg

    _frames, avi = _mjpeg_avi(n_frames=1)
    bad = bytearray(avi)
    i = bad.find(b"MJPG", bad.find(b"strf"))
    bad[i : i + 4] = b"H264"
    with _pytest.raises(ValueError, match="H264"):
        parse_avi_mjpeg(bytes(bad))
    with _pytest.raises(ValueError, match="RIFF"):
        parse_avi_mjpeg(b"RIFFxxxxWAVEdata")


def test_sniff_avi_dimensions():
    from mie_spark.operators.multimodal import sniff_image_meta

    _frames, avi = _mjpeg_avi(w=48, h=36)
    assert sniff_image_meta(avi) == ("video/x-msvideo", 48, 36)


def test_decode_frames_mjpeg(spark):
    """codec='mjpeg': REAL video frame decode — every_n-th 00dc chunk
    of a Motion-JPEG AVI decodes through the stdlib JPEG codec and
    comes back as a PNG whose pixels match decoding the frame
    directly."""
    import numpy as np

    from mie_spark.operators.jpeg import parse_jpeg
    from mie_spark.operators.multimodal import decode_frames, parse_png

    frames, avi = _mjpeg_avi(n_frames=7)
    df = spark.createDataFrame([(1, bytearray(avi))], ["asset_id", "payload"])
    rows = sorted(
        decode_frames(df, every_n=3, codec="mjpeg").collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]  # frames 0, 3, 6
    for i, r in enumerate(rows):
        _w, _h, want = parse_jpeg(frames[3 * i])
        _w2, _h2, got = parse_png(bytes(r["frame_bytes"]))
        assert np.array_equal(got, want), i


def test_decode_frames_real_still_raises(spark):
    import pytest as _pytest

    from mie_spark.operators.multimodal import decode_frames

    df = spark.createDataFrame([(1, bytearray(b"x"))], ["asset_id", "payload"])
    with _pytest.raises(NotImplementedError, match="codec='mjpeg'"):
        decode_frames(df, codec="real")


def _bmp_from_array(img) -> bytes:  # noqa: ANN001
    """24-bit BI_RGB BMP encoder: BGR bottom-up rows padded to 4 bytes."""
    import numpy as np

    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    size = 54 + stride * h
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + (stride * h).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 DPI
        + (0).to_bytes(4, "little") * 2
    )
    return header + raster.tobytes()


def test_bmp_roundtrip_padding_and_row_orders():
    """_bmp_from_array -> parse_bmp is the identity, including a width
    whose 3-byte rows need 4-byte padding (w=3: stride 12 vs 9); a
    hand-built TOP-DOWN (negative biHeight) variant decodes to the
    same pixels; the sniffer reports BMP dims; garbage rejects."""
    import numpy as np
    import pytest as _pytest

    from mie_spark.operators.multimodal import parse_bmp, sniff_image_meta

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    raw = _bmp_from_array(img)
    w, h, back = parse_bmp(raw)
    assert (w, h) == (3, 5)
    assert np.array_equal(back, img)
    assert sniff_image_meta(raw) == ("image/bmp", 3, 5)

    # top-down variant: negate biHeight and reverse raster row order
    stride = (3 * 3 + 3) & ~3
    hdr = bytearray(raw[:54])
    hdr[22:26] = (-5).to_bytes(4, "little", signed=True)
    body = raw[54:]
    rows = [body[i * stride : (i + 1) * stride] for i in range(5)]
    td = bytes(hdr) + b"".join(reversed(rows))
    w2, h2, back2 = parse_bmp(td)
    assert (w2, h2) == (3, 5)
    assert np.array_equal(back2, img)

    with _pytest.raises(ValueError):
        parse_bmp(b"BM" + b"\x00" * 60)  # zero dims / bad header
    with _pytest.raises(ValueError):
        parse_bmp(raw[:40])  # truncated

    # negative biWidth: parse_bmp rejects it, so the sniffer must not
    # report it as a valid BMP either (ADVICE r7 — they agreed on
    # height but disagreed on width validity)
    neg_w = bytearray(raw)
    neg_w[18:22] = (-3).to_bytes(4, "little", signed=True)
    assert sniff_image_meta(bytes(neg_w)) is None
    with _pytest.raises(ValueError):
        parse_bmp(bytes(neg_w))


def test_resize_auto_dispatches_bmp(spark):
    """A BMP payload resizes through the stdlib path in codec='auto'
    (no Pillow in this container — a dispatch gap would raise)."""
    import numpy as np

    img = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    df = spark.createDataFrame(
        [(1, bytearray(_bmp_from_array(img)), "image/bmp")],
        ["asset_id", "payload", "media_type"],
    )
    row = resize_images(df, 2, 3, codec="auto").collect()[0]
    assert (row["width"], row["height"]) == (2, 3)
    assert len(row["payload"]) > 0


def _wav_from_array(samples, sample_rate: int = 16_000) -> bytes:  # noqa: ANN001
    """RIFF/WAVE PCM16 mono encoder: floats in [-1, 1] clip-quantize to
    int16 little-endian."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.float64)
    if a.ndim != 1:
        raise ValueError("expected a 1-D mono sample array")
    pcm = np.clip(np.rint(a * 32768.0), -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def test_wav_roundtrip_and_odd_length_padding(spark):
    """_wav_from_array payloads decode through the WAV reader of
    audio_fingerprint: the fingerprint equals the one computed from the
    quantized samples directly, also when an odd-sized chunk and its pad
    byte precede ``fmt``. Out-of-range floats clip instead of
    wrapping."""
    import struct

    import numpy as np

    from mie_spark.operators.multimodal import audio_fingerprint

    sig = np.random.default_rng(3).uniform(-0.9, 0.9, 800)
    raw = _wav_from_array(sig, sample_rate=8000)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # 3 bytes + pad byte
    padded = raw[:4] + struct.pack("<I", len(raw) - 8 + len(odd)) + raw[8:12] + odd + raw[12:]
    df = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(padded))], ["asset_id", "payload"]
    )
    got = {r["asset_id"]: r["afp"] for r in audio_fingerprint(df, seg_len=13).collect()}
    q = np.clip(np.rint(sig * 32768.0), -32768, 32767).astype(np.int64)
    e = (q[:793].reshape(61, 13) ** 2).sum(axis=1)
    want = sum(1 << k for k in range(60) if e[k] > e[k + 1])
    assert want != 0 and got == {1: want, 2: want}

    clipped = _wav_from_array(np.array([2.0, -2.0]), sample_rate=8000)
    assert struct.unpack("<2h", clipped[-4:]) == (32767, -32768)  # not wrapped
    with pytest.raises(ValueError):
        _wav_from_array(np.zeros((2, 2)))


def test_synthetic_png_corpus_closed_form_roundtrip(spark):
    """mm_png_stats' foundation: the synthetic corpus emits REAL PNGs
    (magic, zlib IDAT, CRC-valid chunks) whose decoded pixels match
    the documented closed form v(y,x,c) = (id*31 + y*7 + x*3 + c*11)
    % 256 exactly — so the query's DuckDB oracle is entitled to
    recompute decoded statistics without a codec."""
    import numpy as np

    from mie_spark.operators.multimodal import (
        parse_png,
        synthetic_png_corpus,
    )
    from mie_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = synthetic_png_corpus(docs, every=10).limit(5).collect()
    assert rows
    for r in rows:
        i = r["asset_id"]
        assert i % 10 == 0
        raw = bytes(r["payload"])
        assert raw[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, img = parse_png(raw)
        assert (w, h) == (8 + i % 9, 8 + i % 7)
        expect = (
            i * 31
            + 7 * np.arange(h, dtype=np.int64)[:, None, None]
            + 3 * np.arange(w, dtype=np.int64)[None, :, None]
            + 11 * np.arange(3, dtype=np.int64)[None, None, :]
        ) % 256
        assert np.array_equal(img.astype(np.int64), expect)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        synthetic_png_corpus(docs, every=0)


def test_mm_png_stats_weighted_sum_catches_layout_drift(spark):
    """The px_weighted column exists to catch decoders that return the
    right VALUES in the wrong ORDER (transposed dims, swapped
    channels) — verify it actually distinguishes the true layout from
    a transposed one on a non-square image."""
    import numpy as np

    from mie_spark.queries import QUERIES

    out = {r["asset_id"]: r for r in QUERIES["mm_png_stats"](
        spark, "/root/testdata/sf0.001"
    ).collect()}
    assert out
    # find a non-square image and recompute both orders
    for i, r in out.items():
        w, h = r["width"], r["height"]
        if w == h:
            continue
        v = (
            i * 31
            + 7 * np.arange(h, dtype=np.int64)[:, None, None]
            + 3 * np.arange(w, dtype=np.int64)[None, :, None]
            + 11 * np.arange(3, dtype=np.int64)[None, None, :]
        ) % 256
        flat = v.reshape(-1)
        wsum = int((flat * (np.arange(flat.size) % 251)).sum())
        flat_t = v.transpose(1, 0, 2).reshape(-1)
        wsum_t = int((flat_t * (np.arange(flat_t.size) % 251)).sum())
        assert r["px_weighted"] == wsum
        assert wsum != wsum_t, "weighted sum must be layout-sensitive"
        break
    else:
        raise AssertionError("corpus produced no non-square image")


def test_phash_streaming_twin_equals_batch(spark):
    """st_phash_hamming drains the same signature census through the
    same banded-pair projection: its pair census must equal the batch
    one row-for-row (the 11th twin family's equality contract)."""
    from mie_spark.queries import QUERIES

    st = sorted(
        tuple(r) for r in QUERIES["st_phash_hamming"](spark, SF).collect()
    )
    ba = sorted(
        tuple(r) for r in QUERIES["mm_phash_hamming"](spark, SF).collect()
    )
    assert st == ba and st


def test_phash_census_invariant_under_batch_cuts(spark, tmp_path):
    """The signature census is a pure per-image function, so feeding
    the corpus as 4 one-file micro-batches (arbitrary batch cuts) must
    yield EXACTLY the batch census — the replay-idempotency the twin's
    max() fold claims."""
    from mie_spark.queries.multimodal import phash_signature_census
    from mie_spark.sources import load_table
    from mie_spark.streaming.ops import run_to_checkpoint_sink

    docs = load_table(spark, SF, "documents").select("doc_id")
    src = str(tmp_path / "docs4")
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = run_to_checkpoint_sink(
        phash_signature_census(stream), output_mode="complete",
        state_partitions=4,
    )
    got = {(r["asset_id"], r["phash"]) for r in drained.collect()}
    want = {
        (r["asset_id"], r["phash"])
        for r in phash_signature_census(docs).collect()
    }
    assert got == want and len(want) > 0


def test_audio_fingerprint_matches_spec_replay(spark):
    """mm_audio_fingerprint (r13): the engine's decode->energy->delta
    fingerprint over real WAV bytes must equal a pure-python replay of
    the synthetic_wav_corpus spec, and group structure must separate —
    in-group pairs within hamming 6, cross-group pairs far away."""
    import hashlib

    from mie_spark.operators.multimodal import (
        audio_fingerprint,
        synthetic_wav_corpus,
    )

    docs = load_table(spark, SF, "documents").select("doc_id").limit(200)
    fps = {
        r["asset_id"]: r["afp"]
        for r in audio_fingerprint(synthetic_wav_corpus(docs)).collect()
    }
    assert len(fps) == 200

    def md5_15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def spec_fp(did):
        g, d = divmod(did, 25)
        amps = [md5_15(f"{g}:s{k}") % 28000 - 14000 for k in range(61)]
        amps[(d * 7) % 61] += (d % 3 + 1) * 400
        e = [64 * a * a for a in amps]
        return sum(1 << k for k in range(60) if e[k] > e[k + 1])

    for did, afp in fps.items():
        assert afp == spec_fp(did), did

    ids = sorted(fps)
    in_group = cross_far = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if a // 25 == b // 25:
                assert h <= 6, (a, b, h)
                in_group += 1
            else:
                cross_far += 1
                assert h > 6, (a, b, h)
    assert in_group > 0 and cross_far > 0
