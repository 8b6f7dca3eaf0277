"""Multimodal binary-column plumbing tests (mapInPandas path)."""

from __future__ import annotations

import pytest


def _bmp24(width, height, rows_rgb, top_down=False):
    """Hand-build a 24-bit BI_RGB BMP: ``rows_rgb`` is top-down
    [[(r,g,b), ...], ...]; storage order flips unless top_down."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    px = bytearray()
    storage = rows_rgb if top_down else list(reversed(rows_rgb))
    for row in storage:
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        px += line
    h_field = -height if top_down else height
    dib = struct.pack("<IiiHHIIiiII", 40, width, h_field, 1, 24, 0,
                      len(px), 2835, 2835, 0, 0)
    off = 14 + len(dib)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(px), 0, 0, off)
    return bytes(hdr + dib + px)


def test_decode_image_bmp_24bit_padding_and_row_order():
    """24-bit BMP with a non-multiple-of-4 stride (3px wide => 9 bytes
    + 3 pad): bottom-up storage must come back top-down RGB, exact."""
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    for top_down in (False, True):
        img = decode_image(_bmp24(3, 2, rows, top_down=top_down))
        assert (img.width, img.height, img.mode) == (3, 2, "RGB")
        want = bytes(c for row in rows for p in row for c in p)
        assert img.pixels == want, top_down


def test_decode_image_ppm_p6_p3_and_comments():
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    px = bytes((1, 2, 3, 4, 5, 6))
    img = decode_image(b"P6\n# a comment\n2 1\n255\n" + px)
    assert (img.width, img.height, img.pixels) == (2, 1, px)
    img3 = decode_image(b"P3\n2 1\n255\n1 2 3 4 5 6\n")
    assert (img3.width, img3.height, img3.pixels) == (2, 1, px)


def test_decode_image_ppm_crlf_header_terminator():
    """Windows-written P6 ends the header with \\r\\n; the pair must
    count as ONE separator or pixel data mis-frames by a byte (usually
    a spurious 'truncated' error; silently shifted RGB channels when
    trailing bytes exist)."""
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    px = bytes((1, 2, 3, 4, 5, 6))
    img = decode_image(b"P6\r\n2 1\r\n255\r\n" + px)
    assert (img.width, img.height, img.pixels) == (2, 1, px)
    # a lone \r separator (classic-Mac style) still counts as one byte
    img2 = decode_image(b"P6\r2 1\r255\r" + px)
    assert img2.pixels == px
    # \r\n followed by pixel data that BEGINS with \n-valued byte must
    # not be eaten: 0x0a is a legal first sample after a \r\n pair only
    # when framed correctly — construct via maxval>\n case
    px3 = bytes((0x0A, 2, 3))
    img3 = decode_image(b"P6\r\n1 1\r\n255\r\n" + px3)
    assert img3.pixels == px3
    # spec-valid LONE-\r terminator whose first pixel byte is 0x0A:
    # the pair-skip would eat a real sample; the exact-byte-count
    # check must fall back to the single-byte skip (review finding)
    img4 = decode_image(b"P6\r1 1\r255\r" + px3)
    assert img4.pixels == px3
    # EXACT-fit preference (round-6 advice): when the pair-skip leaves
    # exactly 3*w*h bytes it wins even though the single-skip also has
    # enough bytes (one spare); and vice versa the single-skip wins on
    # its exact fit (img4 above). With trailing garbage making NEITHER
    # fit exact, the documented CRLF bias applies — that residual case
    # (e.g. b"P6\r1 1\r255\r" + b"\n\x02\x03zz") is genuinely
    # undecidable and stays biased to the far-more-common CRLF file.
    img5 = decode_image(b"P6\r\n1 1\r\n255\r\n" + bytes((9, 8, 7)))
    assert img5.pixels == bytes((9, 8, 7))
    amb = decode_image(b"P6\r1 1\r255\r" + b"\n\x02\x03zz")
    assert amb.pixels == b"\x02\x03z"  # pinned bias, not an accident


def test_decode_image_rejects_unsupported_with_clear_error():
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    with pytest.raises(ValueError, match="unsupported image container"):
        decode_image(b"\xff\xd8\xff\xe0JFIF")  # JPEG still needs a library
    with pytest.raises(ValueError, match="IHDR"):
        decode_image(b"\x89PNG\r\n\x1a\n")  # signature-only PNG
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n2 2\n255\n\x00")
    with pytest.raises(ValueError, match="compression"):
        bad = bytearray(_bmp24(2, 1, [[(0, 0, 0), (0, 0, 0)]]))
        bad[30] = 1  # BI_RLE8
        decode_image(bytes(bad))


def test_image_pixel_stats_end_to_end(spark):
    """REAL decode over mapInPandas: BMP + PPM payloads mixed with a
    corrupt blob; exact dimensions and channel means come back, the
    corrupt row is dropped (not a crash)."""
    from reddit_can_bigdata_spark.multimodal.binaryops import image_pixel_stats

    bmp = _bmp24(2, 2, [
        [(10, 20, 30), (10, 20, 30)],
        [(10, 20, 30), (10, 20, 30)],
    ])
    ppm = b"P6\n1 2\n255\n" + bytes((100, 150, 200, 102, 152, 202))
    rows = [(1, bytearray(bmp)), (2, bytearray(ppm)), (3, bytearray(b"garbage"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r.asDict() for r in image_pixel_stats(df).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["width"], got[1]["height"]) == (2, 2)
    assert (got[1]["mean_r"], got[1]["mean_g"], got[1]["mean_b"]) == (10, 20, 30)
    assert (got[2]["width"], got[2]["height"]) == (1, 2)
    assert (got[2]["mean_r"], got[2]["mean_g"], got[2]["mean_b"]) == (101, 151, 201)


def test_sample_frames_one_to_n_and_deterministic(spark):
    """Frame sampling: 1 video row -> every-Nth-frame rows, exact
    chunking/indexing, only video rows pass, stable across runs."""
    from reddit_can_bigdata_spark.multimodal.binaryops import (
        FRAME_BYTES,
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, 30)
    frames = sample_frames(media, every_n=2)
    rows = frames.collect()
    assert rows, "expected frames"
    # only video rows produce frames
    video_ids = {r["media_id"] for r in media.where("kind = 'video'").collect()}
    assert {r["media_id"] for r in rows} <= video_ids
    # exact chunk semantics against a python reference
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("kind = 'video'").collect()
    }
    expected = set()
    for mid, raw in payloads.items():
        chunks = [raw[o : o + FRAME_BYTES] for o in range(0, len(raw), FRAME_BYTES)]
        for i in range(0, len(chunks), 2):
            expected.add((mid, i, chunks[i]))
    got = {(r["media_id"], r["frame_idx"], bytes(r["frame_payload"])) for r in rows}
    assert got == expected
    rerun = {
        (r["media_id"], r["frame_idx"], bytes(r["frame_payload"]))
        for r in sample_frames(media, every_n=2).collect()
    }
    assert rerun == got


def test_parse_image_headers_jvm_side(spark):
    """Real PNG/GIF byte layouts parse to exact dimensions with zero
    Python in the plan; JPEG detects mime with NULL dims; junk gets
    NULL mime."""
    import struct

    from reddit_can_bigdata_spark.multimodal.binaryops import parse_image_headers
    from reddit_can_bigdata_spark.plans.inspect import formatted_plan

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 8
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    junk = b"not an image at all....."
    df = spark.createDataFrame(
        [(1, png), (2, gif), (3, jpeg), (4, junk)],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in parse_image_headers(df).collect()}
    assert (out[1].mime_detected, out[1].parsed_width, out[1].parsed_height) == (
        "image/png",
        640,
        480,
    )
    assert (out[2].mime_detected, out[2].parsed_width, out[2].parsed_height) == (
        "image/gif",
        320,
        200,
    )
    assert out[3].mime_detected == "image/jpeg"
    assert out[3].parsed_width is None and out[3].parsed_height is None
    assert out[4].mime_detected is None
    assert all(out[i].n_bytes == len(b) for i, b in [(1, png), (2, gif), (3, jpeg), (4, junk)])
    plan = formatted_plan(parse_image_headers(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decode_ppm_rescales_small_maxval():
    """Legal Netpbm with maxval<255 must rescale samples to 0-255
    (15/15 is white), not pass raw values through."""
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    img = decode_image(b"P3\n2 1\n15\n15 15 15 0 0 0\n")
    assert img.pixels == bytes((255, 255, 255, 0, 0, 0))
    # 16-bit samples stay an explicit unsupported error
    with pytest.raises(ValueError, match="maxval"):
        decode_image(b"P3\n1 1\n65535\n0 0 0\n")


def test_image_pixel_stats_tolerates_null_payload(spark):
    """A NULL payload (failed fetch) drops as a row — it must not
    TypeError the whole Arrow batch."""
    from reddit_can_bigdata_spark.multimodal.binaryops import image_pixel_stats

    ppm = b"P6\n1 1\n255\n\x09\x14\x1e"
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, None)], "media_id long, payload binary"
    )
    got = image_pixel_stats(df).collect()
    assert [r["media_id"] for r in got] == [1]
    assert (got[0]["mean_r"], got[0]["mean_g"], got[0]["mean_b"]) == (9, 20, 30)


def test_decode_rejects_adversarial_headers():
    """Corrupt headers must raise ValueError (the class the batch
    tolerance contract catches) — never ZeroDivisionError or garbage
    rows: maxval=0 previously divided by zero in the rescale, and
    negative dims previously decoded to width=-1 'images' whose 3*w*h
    matched the slice length."""
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    with pytest.raises(ValueError, match="maxval"):
        decode_image(b"P6\n1 1\n0\n\x00\x00\x00")
    with pytest.raises(ValueError, match="invalid PPM"):
        decode_image(b"P6\n-1 -1\n255\n\x01\x02\x03")
    with pytest.raises(ValueError, match="invalid BMP width"):
        import struct

        hdr = bytearray(b"BM") + bytearray(52)
        struct.pack_into("<I", hdr, 10, 54)
        struct.pack_into("<I", hdr, 14, 40)
        struct.pack_into("<ii", hdr, 18, -2, 1)
        struct.pack_into("<H", hdr, 28, 24)
        decode_image(bytes(hdr))


def test_image_pixel_stats_tolerates_null_media_id(spark):
    """A NULL media_id renders as float64 NaN in the Arrow->pandas
    batch; it must drop as a row, not ValueError the int64 cast for
    the whole batch."""
    from reddit_can_bigdata_spark.multimodal.binaryops import image_pixel_stats

    ppm = b"P6\n1 1\n255\n\x09\x14\x1e"
    df = spark.createDataFrame(
        [(None, bytearray(ppm)), (7, bytearray(ppm))],
        "media_id long, payload binary",
    )
    got = image_pixel_stats(df).collect()
    assert [r["media_id"] for r in got] == [7]


def test_decode_roundtrip_property_bmp_and_ppm():
    """Property: encode->decode is the identity for random dimensions
    and pixels, across BMP (both row orders) and P6 — the same
    invariant the oracle query pins on synthesized payloads, here over
    the full stride/padding space (widths 1..9 hit every pad width)."""
    import random

    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    rng = random.Random(1234)
    for _ in range(40):
        w, h = rng.randint(1, 9), rng.randint(1, 6)
        rows = [
            [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
             for _ in range(w)]
            for _ in range(h)
        ]
        flat = bytes(c for row in rows for p in row for c in p)
        for top_down in (False, True):
            img = decode_image(_bmp24(w, h, rows, top_down=top_down))
            assert (img.width, img.height) == (w, h)
            assert img.pixels == flat, (w, h, top_down)
        p6 = f"P6\n{w} {h}\n255\n".encode() + flat
        img = decode_image(p6)
        assert (img.width, img.height, img.pixels) == (w, h, flat)


def _png(w, h, flat, color=2, filters=None, palette=None):
    """Spec-VALID PNG encoder (real zlib stream, real CRC32s) used
    only as the decoder's adversary: ``flat`` is the raw sample bytes
    per color type; ``filters`` optionally applies a per-row filter
    type by FORWARD-filtering the scanlines so the decoder must
    reverse them."""
    import struct
    import zlib

    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = w * nch
    assert len(flat) == stride * h
    raws = bytearray()
    prev = bytes(stride)
    for row in range(h):
        line = flat[row * stride : (row + 1) * stride]
        ft = (filters or [0] * h)[row]
        raws.append(ft)
        if ft == 0:
            raws += line
        elif ft == 1:  # Sub
            raws += bytes(
                (line[i] - (line[i - nch] if i >= nch else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raws += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            out = bytearray()
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                out.append((line[i] - (a + prev[i]) // 2) & 0xFF)
            raws += out
        elif ft == 4:  # Paeth
            out = bytearray()
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((line[i] - pred) & 0xFF)
            raws += out
        prev = line

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raws)))
    return out + chunk(b"IEND", b"")


def test_decode_png_all_color_types_and_filters():
    """PNG decode: 8-bit RGB/RGBA/gray/gray+alpha/palette against a
    spec-valid encoder, every filter type exercised, alpha dropped and
    gray replicated per the documented conversion."""
    import random

    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    rng = random.Random(99)
    for _ in range(25):
        w, h = rng.randint(1, 9), rng.randint(1, 6)
        rgb = bytes(rng.randrange(256) for _ in range(3 * w * h))
        filters = [rng.randint(0, 4) for _ in range(h)]
        img = decode_image(_png(w, h, rgb, color=2, filters=filters))
        assert (img.width, img.height, img.pixels) == (w, h, rgb), (w, h, filters)
    # RGBA: alpha dropped
    rgba = bytes(range(16))  # 2x2
    img = decode_image(_png(2, 2, rgba, color=6, filters=[4, 3]))
    want = bytes(rgba[i] for i in range(16) if i % 4 != 3)
    assert img.pixels == want
    # gray replicates; gray+alpha replicates and drops alpha
    gray = bytes((10, 200, 30, 140, 250, 0))  # 3x2
    img = decode_image(_png(3, 2, gray, color=0, filters=[1, 2]))
    assert img.pixels == bytes(c for g in gray for c in (g, g, g))
    ga = bytes((10, 255, 200, 128, 30, 0, 99, 7))  # 2x2 gray+alpha
    img = decode_image(_png(2, 2, ga, color=4))
    assert img.pixels == bytes(c for g in ga[::2] for c in (g, g, g))
    # palette resolves through PLTE
    pal = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))
    idx = bytes((2, 0, 1, 1))  # 2x2
    img = decode_image(_png(2, 2, idx, color=3, palette=pal))
    assert img.pixels == bytes(
        (0, 0, 255, 255, 0, 0, 0, 255, 0, 0, 255, 0)
    )


def test_decode_png_rejections_and_golden():
    """Unsupported PNG shapes fail loud; the committed golden fixture
    (fixtures/golden_4x2.png, real encoder output) pins the
    compressed-path identity across refactors."""
    from pathlib import Path

    from reddit_can_bigdata_spark.multimodal.binaryops import decode_image

    base = _png(2, 1, bytes(6))
    with pytest.raises(ValueError, match="interlaced"):
        bad = bytearray(base)
        bad[28] = 1  # IHDR interlace byte
        decode_image(bytes(bad))
    with pytest.raises(ValueError, match="bit depth"):
        bad = bytearray(base)
        bad[24] = 16
        decode_image(bytes(bad))
    with pytest.raises(ValueError, match="color type"):
        bad = bytearray(base)
        bad[25] = 5
        decode_image(bytes(bad))
    with pytest.raises(Exception):  # garbled deflate stream must raise
        decode_image(base[:41] + b"\x00" * 8 + base[49:])
    with pytest.raises(ValueError, match="PLTE"):
        decode_image(_png(1, 1, b"\x00", color=3, palette=None))

    golden = Path(__file__).resolve().parents[1] / "fixtures" / "golden_4x2.png"
    img = decode_image(golden.read_bytes())
    flat = bytes((17 * i) % 256 for i in range(3 * 4 * 2))
    assert (img.width, img.height, img.pixels) == (4, 2, flat)


def _wav(rate=8000, channels=1, bits=8, data=b"\x80\x80", extra_chunk=False):
    import struct

    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST chunk between fmt and data (odd-sized)
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_8bit_centering_and_chunk_walk():
    from reddit_can_bigdata_spark.multimodal.binaryops import decode_audio

    au = decode_audio(_wav(data=bytes((128, 255, 0, 130)), extra_chunk=True))
    assert (au.sample_rate, au.channels, au.bits) == (8000, 1, 8)
    assert au.samples == [0, 127, -128, 2]


def test_decode_wav_16bit_signed_le():
    import struct

    from reddit_can_bigdata_spark.multimodal.binaryops import decode_audio

    data = struct.pack("<4h", 0, 32767, -32768, -1)
    au = decode_audio(_wav(bits=16, data=data))
    assert au.bits == 16
    assert au.samples == [0, 32767, -32768, -1]


def test_decode_wav_rejects_with_clear_errors():
    import struct

    from reddit_can_bigdata_spark.multimodal.binaryops import decode_audio

    with pytest.raises(ValueError, match="audio container"):
        decode_audio(b"ID3\x04 mp3 tag")
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_audio(b"RIFF\x00\x00\x00\x00AVI LIST")
    with pytest.raises(ValueError, match="only PCM"):
        bad = bytearray(_wav())
        off = bad.index(b"fmt ") + 8
        bad[off:off + 2] = struct.pack("<H", 3)  # IEEE float format
        decode_audio(bytes(bad))
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_audio(_wav()[:-1])
    with pytest.raises(ValueError, match="bit depth"):
        decode_audio(_wav(bits=24, data=b"\x00" * 6))
    with pytest.raises(ValueError, match="odd byte count"):
        decode_audio(_wav(bits=16, data=b"\x00\x01\x02"))


def test_audio_pcm_stats_end_to_end(spark):
    """Arrow path: one good WAV, one corrupt blob, one NULL payload —
    stats exact for the good row, the others dropped."""
    from reddit_can_bigdata_spark.multimodal.binaryops import audio_pcm_stats

    good = _wav(rate=16000, data=bytes((128 + 30, 128 - 30, 128, 228)))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"garbage")), (3, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_pcm_stats(df).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert (r["sample_rate"], r["channels"], r["bits"], r["n_samples"]) == (
        16000, 1, 8, 4,
    )
    assert r["duration_ms"] == pytest.approx(4 * 1000.0 / 16000)
    import math

    assert r["rms"] == pytest.approx(
        math.sqrt((30 * 30 + 30 * 30 + 0 + 100 * 100) / 4)
    )
    assert r["peak"] == 100


# ---------------------------------------------------------------------------
# perceptual hash (aHash) — unit properties the oracle can't state
# ---------------------------------------------------------------------------


def _ppm(w, h, vals):
    """Grayscale P6 from a list of w*h 0-255 values."""
    body = b"".join(bytes([v, v, v]) for v in vals)
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_ahash_brightness_invariance_and_sensitivity():
    """A uniform brightness shift never flips a bit; changing the
    image content does."""
    from reddit_can_bigdata_spark.multimodal.binaryops import (
        ahash_bits,
        decode_image,
    )

    vals = [(i * 37) % 240 for i in range(64)]
    base = ahash_bits(decode_image(_ppm(8, 8, vals)))
    brighter = ahash_bits(decode_image(_ppm(8, 8, [v + 10 for v in vals])))
    assert base == brighter and len(base) == 64 and set(base) <= {"0", "1"}
    different = ahash_bits(decode_image(_ppm(8, 8, list(reversed(vals)))))
    assert different != base


def test_ahash_downsamples_larger_images():
    """A 16x16 image whose 2x2 blocks replicate an 8x8 pattern hashes
    like the 8x8 original (nearest-neighbor grid sampling)."""
    from reddit_can_bigdata_spark.multimodal.binaryops import (
        ahash_bits,
        decode_image,
    )

    small = [(i * 37) % 240 for i in range(64)]
    big = []
    for y in range(16):
        for x in range(16):
            big.append(small[(y // 2) * 8 + (x // 2)])
    assert ahash_bits(decode_image(_ppm(16, 16, big))) == ahash_bits(
        decode_image(_ppm(8, 8, small))
    )


def test_phash_dedup_groups_brightness_variants(spark, sf_dir):
    """In the registered query, every scene's odd (brightness-shifted)
    and even variants share one phash and one canonical id."""
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out = REGISTRY["multimodal_phash_dedup"].fn(spark, sf_dir).toPandas()
    assert len(out) > 0
    out["scene"] = out.media_id % 50
    # each phash group spans exactly the media ids of its scene set
    for ph, g in out.groupby("phash"):
        assert g.canonical_id.nunique() == 1
        assert g.canonical_id.iloc[0] == g.media_id.min()
        # brightness variants (odd ids) must be inside, not separate
        scenes = set(g.scene)
        both = g[g.scene.isin(scenes)]
        assert len(both) == len(g)
    # scenes map into hashes: a scene never splits across two hashes
    assert (out.groupby("scene").phash.nunique() == 1).all()
