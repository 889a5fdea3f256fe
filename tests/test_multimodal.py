"""Multimodal plumbing: schemas, batch shapes, decode/resize/features.
Codec step is a deterministic stub (no PIL in container); the
Spark-side behavior is what's under test."""

import hashlib

from crawleria_spark.multimodal import (
    decode_media,
    extract_features,
    resize_images,
)


def _media_df(spark):
    rows = [
        ("m1", "image", b"PNGDATA" * 100),
        ("m2", "video", b"MP4DATA" * 500),
        ("m3", "audio", b"WAVDATA" * 50),
        ("m4", "image", b""),
    ]
    return spark.createDataFrame(rows, "media_id string, media_type string, content binary")


def test_decode_media(spark):
    out = decode_media(_media_df(spark), type_col="media_type")
    rows = {r["media_id"]: r["meta"] for r in out.collect()}
    assert rows["m1"]["media_type"] == "image"
    assert rows["m1"]["width"] is not None and rows["m1"]["height"] is not None
    assert rows["m1"]["duration_s"] is None
    assert rows["m3"]["width"] is None and rows["m3"]["duration_s"] is not None
    assert rows["m1"]["n_bytes"] == 700
    assert rows["m1"]["sha256"] == hashlib.sha256(b"PNGDATA" * 100).hexdigest()
    # determinism: same bytes → same meta
    again = {r["media_id"]: r["meta"] for r in decode_media(_media_df(spark)).collect()}
    assert again == rows


def test_resize_plan(spark):
    decoded = decode_media(_media_df(spark))
    out = resize_images(decoded, max_width=500)
    rows = {r["media_id"]: r for r in out.collect()}
    for mid, r in rows.items():
        meta = r["meta"]
        if meta["width"] is None:
            assert not r["resized"]
        elif meta["width"] > 500:
            assert r["resized"] and r["target_width"] == 500
            # aspect ratio preserved
            assert abs(r["target_height"] - meta["height"] * 500 / meta["width"]) <= 1
        else:
            assert not r["resized"] and r["target_width"] == meta["width"]


def test_extract_features(spark):
    out = extract_features(_media_df(spark), dim=8)
    rows = out.collect()
    assert all(len(r["features"]) == 8 for r in rows)
    import numpy as np

    for r in rows:
        assert abs(np.linalg.norm(r["features"]) - 1.0) < 1e-5


def _make_png(w: int, h: int) -> bytes:
    """Valid in-process PNG (zlib+struct only — no codec lib needed)."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + b"\x01\x02\x03" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_decode_path(spark):
    """A REAL decode executes in-container (S10/P4): a valid in-process
    PNG decodes to its true header dimensions — via PIL where importable,
    else via the vendored pure-Python codecs — and the resize plan
    honors them. Magic-matched-but-corrupt bytes yield an error row on
    either branch; magic-less bytes keep the marked fake path (covered
    by test_decode_media)."""
    png = _make_png(2400, 600)
    corrupt = b"\x89PNG\r\n\x1a\n" + b"garbage after the signature"
    df = spark.createDataFrame(
        [("p1", "image", bytearray(png)), ("p2", "image", bytearray(corrupt))],
        "media_id string, media_type string, content binary",
    )
    out = {r["media_id"]: r for r in resize_images(decode_media(df), max_width=1920).collect()}
    good = out["p1"]["meta"]
    assert (good["format"], good["width"], good["height"]) == ("png", 2400, 600)
    assert good["decode_error"] is None
    assert (out["p1"]["target_width"], out["p1"]["target_height"]) == (1920, 480)
    assert out["p1"]["resized"] is True
    # corrupt bytes → error row, not a task failure
    assert out["p2"]["meta"]["decode_error"] is not None
    assert out["p2"]["resized"] is False


def test_vendored_header_codecs():
    """Unit layer: true dimensions from real header bytes for every
    vendored format, and CodecError (not a silent fake) on matched-but-
    corrupt bytes."""
    import struct

    import numpy as np
    import pytest

    from crawleria_spark.multimodal.codecs import (
        CodecError,
        encode_bmp,
        encode_ppm,
        parse_image_header,
    )

    assert parse_image_header(_make_png(31, 17)) == {
        "format": "png", "width": 31, "height": 17,
    }
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert parse_image_header(gif) == {"format": "gif", "width": 320, "height": 200}
    # minimal JPEG: SOI, APP0 (skipped), SOF0 with (h=480, w=640)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xc0" + struct.pack(">H", 7) + b"\x08" + struct.pack(">HH", 480, 640)
    )
    assert parse_image_header(jpeg) == {"format": "jpeg", "width": 640, "height": 480}
    arr = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
    assert parse_image_header(encode_bmp(arr)) == {
        "format": "bmp", "width": 5, "height": 4,
    }
    assert parse_image_header(encode_ppm(arr)) == {
        "format": "ppm", "width": 5, "height": 4,
    }
    assert parse_image_header(b"ordinary page text") is None  # no magic
    with pytest.raises(CodecError):
        parse_image_header(b"\x89PNG\r\n\x1a\nbad")
    with pytest.raises(CodecError):
        parse_image_header(b"\xff\xd8\xff\xd9")  # EOI before any SOF


def test_real_resize_reencode(spark):
    """P4 executes END-TO-END on real bytes in-container for the
    uncompressed formats: BMP/PPM payloads wider than max_width are
    pixel-decoded, nearest-neighbor resampled, re-encoded — decoding
    the OUTPUT bytes yields the target dimensions. Compressed formats
    pass through (header-real, payload unchanged)."""
    import numpy as np

    from crawleria_spark.multimodal.codecs import (
        decode_pixels,
        encode_bmp,
        encode_ppm,
        parse_image_header,
    )

    rng = np.random.default_rng(0)
    wide = rng.integers(0, 256, size=(60, 240, 3), dtype=np.uint8)
    from crawleria_spark.multimodal.codecs import encode_png

    rows = [
        ("bmp_wide", "image", bytearray(encode_bmp(wide))),
        ("ppm_wide", "image", bytearray(encode_ppm(wide))),
        ("png_wide", "image", bytearray(encode_png(wide))),
        ("gif_wide", "image", bytearray(
            b"GIF89a" + np.uint16([240, 60]).tobytes() + b"\x00" * 6
        )),
        ("ppm_ok", "image", bytearray(encode_ppm(wide[:, :100]))),
    ]
    df = spark.createDataFrame(rows, "media_id string, media_type string, content binary")
    out = {
        r["media_id"]: r
        for r in resize_images(decode_media(df), max_width=120, reencode=True).collect()
    }
    # PNG joins BMP/PPM in the real pixel path since r5 (zlib IDAT decode)
    for mid in ("bmp_wide", "ppm_wide", "png_wide"):
        r = out[mid]
        assert r["resized"] and r["reencoded"], mid
        meta2 = parse_image_header(bytes(r["content"]))
        assert (meta2["width"], meta2["height"]) == (120, 30), mid
        assert decode_pixels(bytes(r["content"])).shape == (30, 120, 3), mid
        assert meta2["format"] == mid.split("_")[0]  # re-encoded in-kind
    # nearest-neighbor resample is deterministic: spot-check one pixel
    for mid in ("ppm_wide", "png_wide"):
        resampled = decode_pixels(bytes(out[mid]["content"]))
        assert (resampled[0, 0] == wide[0, 0]).all()
    # truly codec-bound format (gif): plan computed, payload passes through
    gif_row = out["gif_wide"]
    assert gif_row["resized"] and not gif_row["reencoded"]
    # narrow image untouched
    assert not out["ppm_ok"]["resized"] and not out["ppm_ok"]["reencoded"]


def test_png_pixel_decode_all_filters():
    """The vendored PNG pixel path must invert all five scanline filter
    types. The test FORWARD-filters a known image with an independent
    per-spec implementation (PNG spec §9 'Filtering'), wraps it in a
    valid PNG, and requires decode_pixels to reproduce the original —
    plus gray/RGBA handling and encode_png round-trip."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from crawleria_spark.multimodal.codecs import (
        CodecError,
        decode_pixels,
        encode_png,
        parse_image_header,
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def png_from_raw(w, h, color, raw):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    def forward_filter(img, ftype, ch):
        # independent reference filtering, straight from the spec
        h, w = img.shape[:2]
        flat = img.reshape(h, w * ch).astype(np.int32)
        out = bytearray()
        for y in range(h):
            out.append(ftype)
            for x in range(w * ch):
                cur = flat[y, x]
                a = flat[y, x - ch] if x >= ch else 0
                b = flat[y - 1, x] if y >= 1 else 0
                c = flat[y - 1, x - ch] if (x >= ch and y >= 1) else 0
                if ftype == 0:
                    v = cur
                elif ftype == 1:
                    v = cur - a
                elif ftype == 2:
                    v = cur - b
                elif ftype == 3:
                    v = cur - ((a + b) >> 1)
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur - pred
                out.append(v % 256)
        return bytes(out)

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for ftype in range(5):
        raw = forward_filter(img, ftype, 3)
        got = decode_pixels(png_from_raw(5, 7, 2, raw))
        assert (got == img).all(), f"filter {ftype}"

    # RGBA: alpha dropped; grayscale: expanded to RGB
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    got = decode_pixels(png_from_raw(6, 4, 6, forward_filter(rgba, 4, 4)))
    assert (got == rgba[:, :, :3]).all()
    gray = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    got = decode_pixels(png_from_raw(6, 4, 0, forward_filter(gray, 1, 1)))
    assert (got == np.repeat(gray, 3, axis=2)).all()

    # encode_png round-trip + header agreement
    enc = encode_png(img)
    assert parse_image_header(enc) == {"format": "png", "width": 5, "height": 7}
    assert (decode_pixels(enc) == img).all()

    # corrupt bodies raise CodecError, never return garbage
    with pytest.raises(CodecError):
        decode_pixels(png_from_raw(5, 7, 2, b"\x00" * 3))  # size mismatch
    bad_idat = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"not zlib") + chunk(b"IEND", b"")
    )
    with pytest.raises(CodecError):
        decode_pixels(bad_idat)
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    )
    with pytest.raises(CodecError):
        decode_pixels(interlaced)
