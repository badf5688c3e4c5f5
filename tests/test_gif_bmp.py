"""Ground-truth tests for the dependency-free GIF and BMP decoders
(prose_spark/operators/multimodal.py `_decode_gif` / `_decode_bmp`).

Same strategy as the TIFF/WebP suites: minimal TEST-SIDE ENCODERS
(struct-packed BMP; a real compress-style GIF LZW encoder using the
standard giflib width rule — GIF has NO TIFF-style early change)
produce genuine files from known pixel arrays, and the decoders must
recover them exactly (both formats are lossless). Shared-bug risk for
the GIF bit/framing layer is bounded by REAL-WORLD inputs: the
canonical 35-byte 1x1 white GIF decoded against hand-derived
expectations, plus every standard-encoder GIF shipped in this
container (test_gif_real_world_files), which a shared width-rule bug
cannot pass — exactly the bug a review pass caught here."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from prose_spark.operators.multimodal import decode_image


# --- BMP ground-truth encoder ------------------------------------------

def _encode_bmp(img, bpp=24, top_down=False, palette=None):
    h, w = img.shape[:2]
    stride = ((w * bpp // 8) + 3) & ~3
    rows = []
    for y in range(h):
        r = img[y]
        if bpp == 8:
            line = bytes(r[:, 0] if r.ndim == 2 else r)
        elif bpp == 24:
            line = r[:, 2::-1].tobytes()
        else:  # 32
            line = np.concatenate(
                [r[:, 2::-1], np.full((w, 1), 255, np.uint8)],
                axis=1).tobytes()
        rows.append(line + b"\x00" * (stride - len(line)))
    if not top_down:
        rows = rows[::-1]
    pix = b"".join(rows)
    pal = b""
    if bpp == 8:
        pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, w,
                         -h if top_down else h, 1, bpp, 0, len(pix),
                         2835, 2835, len(palette) if palette is not None
                         else 0, 0))
    return hdr + pal + pix


# --- GIF ground-truth encoder (real LZW, early change) -----------------

def _gif_lzw_encode(indices, min_code_size):
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code):
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    prev = b""
    for p in indices:
        cur = prev + bytes([p])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            # the decoder's table lags the encoder's by one add, so
            # the encoder bumps one entry later than table-fullness
            # (matches giflib decoders; GIF has NO early change)
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
        prev = bytes([p])
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _encode_gif(img_idx, palette, min_code_size=None, interlace=False,
                version=b"GIF89a"):
    h, w = img_idx.shape
    ncols = len(palette)
    depth = max(1, (ncols - 1).bit_length())
    gct_n = 1 << depth
    if min_code_size is None:
        min_code_size = max(2, depth)
    out = bytearray(version)
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += bytes(3) * (gct_n - ncols)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    rows = img_idx
    if interlace:
        order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for r in range(start, h, step)]
        rows = img_idx[order]
    data = _gif_lzw_encode(rows.reshape(-1).tolist(), min_code_size)
    out += bytes([min_code_size])
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


# famous canonical 1x1 white GIF (real-world bytes, not our encoder)
_ONE_PX_GIF = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff"
               b"\x00\x00\x00\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00"
               b"\x02\x02\x44\x01\x00\x3b")


def test_bmp_roundtrip():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_encode_bmp(img, 24)), img)
    assert np.array_equal(
        decode_image(_encode_bmp(img, 24, top_down=True)), img)
    assert np.array_equal(decode_image(_encode_bmp(img, 32)), img)
    # 8-bit paletted
    pal = rng.integers(0, 256, size=(32, 3), dtype=np.uint8)
    idx = rng.integers(0, 32, size=(7, 11), dtype=np.uint8)
    got = decode_image(_encode_bmp(idx[:, :, None], 8, palette=pal))
    assert np.array_equal(got, pal[idx])
    # malformed + unsupported
    with pytest.raises(ValueError, match="malformed BMP"):
        decode_image(_encode_bmp(img, 24)[:30])
    rle = bytearray(_encode_bmp(idx[:, :, None], 8, palette=pal))
    rle[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression"):
        decode_image(bytes(rle))


def test_gif_known_bytes_fixture():
    got = decode_image(_ONE_PX_GIF)
    assert got.shape == (1, 1, 3)
    assert np.array_equal(got, np.full((1, 1, 3), 255, np.uint8))


def test_gif_roundtrip_with_dictionary_growth():
    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    # 64x48 noise over 16 colors: thousands of LZW entries, forcing
    # several width bumps on both sides — desynced early-change rules
    # fail loudly here
    idx = rng.integers(0, 16, size=(48, 64), dtype=np.uint8)
    got = decode_image(_encode_gif(idx, pal))
    assert np.array_equal(got, pal[idx])
    # interlaced
    got_i = decode_image(_encode_gif(idx, pal, interlace=True))
    assert np.array_equal(got_i, pal[idx])
    # 2-color image (min code size floor of 2), long runs -> deep chains
    idx2 = (np.indices((33, 59)).sum(axis=0) % 7 == 0).astype(np.uint8)
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    got2 = decode_image(_encode_gif(idx2, pal2))
    assert np.array_equal(got2, pal2[idx2])
    # GIF87a variant parses too
    got3 = decode_image(_encode_gif(idx, pal, version=b"GIF87a"))
    assert np.array_equal(got3, pal[idx])


def test_gif_malformed_and_caps():
    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(6, 6), dtype=np.uint8)
    blob = _encode_gif(idx, pal)
    with pytest.raises(ValueError, match="malformed GIF"):
        decode_image(blob[:16])  # truncated before any image block
    # giant declared dims rejected before allocation (patch the image
    # descriptor's w/h: marker 0x2C follows the 12-byte GCT)
    giant = bytearray(blob)
    d = blob.index(b"\x2c", 13)
    giant[d + 5:d + 9] = struct.pack("<HH", 60000, 60000)
    with pytest.raises(NotImplementedError, match="decode cap"):
        decode_image(bytes(giant))
    # fake=True plumbing contract never raises
    for bad in (blob[:16], bytes(giant), b"GIF89agarbage"):
        assert decode_image(bad, fake=True).shape[2] == 3


def test_gif_bmp_spark_stage(spark):
    from prose_spark.operators.multimodal import extract_image_features

    rng = np.random.default_rng(14)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(10, 14), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(9, 5, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("g", bytearray(_encode_gif(idx, pal))),
         ("b", bytearray(_encode_bmp(rgb, 24)))],
        ["url", "html"])
    rows = {r.url: r for r in
            extract_image_features(df, blob_col="html",
                                   fake=False).collect()}
    assert rows["g"].media_meta.mime == "image/gif"
    assert (rows["g"].media_meta.width,
            rows["g"].media_meta.height) == (14, 10)
    assert rows["b"].media_meta.mime == "image/bmp"
    assert (rows["b"].media_meta.width,
            rows["b"].media_meta.height) == (5, 9)


def test_image_errors_null_corpus_mode(spark):
    """errors='null' parity with the audio stage: undecodable blobs
    yield mime='error' + NULL features instead of aborting the stage;
    errors='raise' (default) propagates."""
    from pyspark.sql.utils import PythonException

    from prose_spark.operators.multimodal import extract_image_features

    rng = np.random.default_rng(15)
    rgb = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    rows = [("ok", bytearray(_encode_bmp(rgb, 24))),
            ("bad", bytearray(b"RIFF....WEBPgarbage")),
            ("trunc", bytearray(_ONE_PX_GIF[:12]))]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r.url: r for r in extract_image_features(
        df, blob_col="html", fake=False, errors="null").collect()}
    assert got["ok"].media_meta.mime == "image/bmp"
    assert got["ok"].features is not None
    for k in ("bad", "trunc"):
        assert got[k].media_meta.mime == "error"
        assert got[k].features is None
        assert got[k].media_meta.n_bytes > 0
    with pytest.raises(PythonException):
        extract_image_features(
            df, blob_col="html", fake=False, errors="raise").collect()
    with pytest.raises(ValueError, match="errors must be"):
        extract_image_features(df, blob_col="html", errors="bogus")


def test_gif_real_world_files():
    """Regression for the LZW width-bump rule: GIFs from a STANDARD
    encoder (system doc images, present in this container) must
    decode — under the wrong 'early change' variant every one of
    these fails at the first width boundary. Skips if absent."""
    import glob

    files = glob.glob("/usr/share/doc/libxslt1-dev/html/*.gif")
    if not files:
        pytest.skip("no system GIFs available")
    for f in files:
        img = decode_image(open(f, "rb").read())
        assert img.ndim == 3 and img.shape[2] == 3 and img.size > 0
