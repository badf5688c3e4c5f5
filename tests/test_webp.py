"""Lossless WebP (VP8L) decoder tests.

Evidence layers, mirroring the GIF/TIFF pattern (test-side encoder
round-trips + real third-party data + malformed contracts):

1. a test-side VP8L encoder — written against RFC 9649 independently of
   the decoder's table-driven reader (it emits normal prefix codes with
   literal code-length coding; the decoder exercises simple codes via
   the real file and dedicated cases) — round-trips random and
   structured images through literals, LZ77 copies, color-cache hits,
   subtract-green, palette (packed and unpacked), and predictor
   transforms;
2. the real third-party CPython `python.webp` fixture: its ALPH chunk
   is a method-1 (VP8L-coded) alpha plane of the same 16x16 logo the
   cross-format agreement set uses — it must decode through the same
   entropy core and match the logo's shape mask;
3. malformed/unsupported contracts (truncated stream, bad signature,
   the honesty stub for lossy VP8 and for the undecoded JPEG, Sun
   Raster and SGI formats).
"""

import glob
import heapq

import numpy as np
import pytest

from prose_spark.operators.multimodal import (
    _decode_webp,
    _decode_webp_alpha,
    decode_image,
)

_IMGDATA = sorted(
    glob.glob("/root/.pyenv/versions/3.1*/lib/python3.1*/test/imghdrdata")
)


# ---------------------------------------------------------------------------
# test-side encoder (RFC 9649): LSB-first bit writer + canonical prefix
# codes; code lengths are transmitted literally (no 16/17/18 repeats),
# which is valid and keeps the encoder independent of the decoder's
# repeat handling.
# ---------------------------------------------------------------------------

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)


class _BitWriter:
    def __init__(self):
        self.bits = []

    def write(self, v, n):
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def bytes(self):
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _huffman_lengths(freqs: dict) -> dict:
    """Code lengths via the standard heap algorithm (tiny inputs, depth
    never near the 15-bit cap here)."""
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    lengths = {s: 0 for s in freqs}
    tie = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, tie, s1 + s2))
        tie += 1
    return lengths


def _canonical(lengths: dict) -> dict:
    """sym -> (nbits, code) with DEFLATE canonical assignment."""
    max_len = max(lengths.values())
    bl = [0] * (max_len + 1)
    for l in lengths.values():
        bl[l] += 1
    nxt = [0] * (max_len + 2)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl[l - 1]) << 1
        nxt[l] = code
    out = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (l, nxt[l])
        nxt[l] += 1
    return out


def _write_prefix_code(bw: _BitWriter, freqs: dict, alphabet: int):
    """Emit one prefix code in normal (non-simple) form and return the
    canonical sym -> (nbits, code) map for payload writing."""
    lengths = _huffman_lengths(freqs)
    bw.write(0, 1)  # normal code
    cl_freqs = {}
    sym_lens = [lengths.get(s, 0) for s in range(alphabet)]
    for l in sym_lens:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    cl_lengths = _huffman_lengths(cl_freqs)
    bw.write(15, 4)  # num_codes = 19
    cl_arr = [cl_lengths.get(s, 0) for s in range(19)]
    for i in range(19):
        bw.write(cl_arr[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol cap
    if len(cl_lengths) > 1:
        cl_codes = _canonical(cl_lengths)
        for l in sym_lens:
            n, c = cl_codes[l]
            for i in range(n - 1, -1, -1):  # MSB-first on the wire
                bw.write((c >> i) & 1, 1)
    # single distinct length: zero bits per symbol
    codes = _canonical(lengths)
    if len(lengths) == 1:
        # decoder treats a one-symbol code as zero bits per symbol
        codes = {next(iter(lengths)): (0, 0)}
    return codes


def _emit(bw: _BitWriter, codes: dict, sym: int):
    n, c = codes[sym]
    for i in range(n - 1, -1, -1):
        bw.write((c >> i) & 1, 1)


def _cache_slot(pix: int, cache_bits: int) -> int:
    return (0x1E35A7BD * pix & 0xFFFFFFFF) >> (32 - cache_bits)


def _encode_vp8l_body(bw, w, h, tokens, cache_bits=0, level0=True):
    """Spatially-coded image body from a token stream:
    ('lit', argb) | ('copy', length, dist_code) | ('cache', argb).
    dist_code is the RAW distance (emitted via codes > 120). Entropy
    sub-images (level0=False) carry no meta-prefix bit per the spec."""
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if level0:
        bw.write(0, 1)  # no meta prefix image

    def len_prefix(v):
        # inverse of the decoder's prefix_value: find (code, extra, bits)
        if v <= 4:
            return v - 1, 0, 0
        for code in range(4, 24 + 16):
            extra = (code - 2) >> 1
            off = (2 + (code & 1)) << extra
            if off + 1 <= v <= off + (1 << extra):
                return code, extra, v - off - 1
        raise AssertionError(v)

    gf, rf, bf, af, df = {}, {}, {}, {}, {}
    cache = [0] * (1 << cache_bits) if cache_bits else []
    plan = []
    for tok in tokens:
        if tok[0] == "lit":
            pix = tok[1]
            a, r, g, b = (pix >> 24) & 255, (pix >> 16) & 255, \
                (pix >> 8) & 255, pix & 255
            gf[g] = gf.get(g, 0) + 1
            rf[r] = rf.get(r, 0) + 1
            bf[b] = bf.get(b, 0) + 1
            af[a] = af.get(a, 0) + 1
            plan.append(("lit", g, r, b, a))
            if cache_bits:
                cache[_cache_slot(pix, cache_bits)] = pix
        elif tok[0] == "copy":
            _, length, dist = tok
            lc, lx, lv = len_prefix(length)
            dc, dx, dv = len_prefix(dist + 120)  # raw-distance codes
            gf[256 + lc] = gf.get(256 + lc, 0) + 1
            df[dc] = df.get(dc, 0) + 1
            plan.append(("copy", lc, lx, lv, dc, dx, dv))
        else:  # cache
            pix = tok[1]
            slot = _cache_slot(pix, cache_bits)
            assert cache[slot] == pix, "test token stream: stale cache"
            gf[280 + slot] = gf.get(280 + slot, 0) + 1
            plan.append(("cache", slot))
    galpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gc = _write_prefix_code(bw, gf, galpha)
    rc = _write_prefix_code(bw, rf or {0: 1}, 256)
    bc = _write_prefix_code(bw, bf or {0: 1}, 256)
    ac = _write_prefix_code(bw, af or {0: 1}, 256)
    dc_ = _write_prefix_code(bw, df or {0: 1}, 40)
    for p in plan:
        if p[0] == "lit":
            _, g, r, b, a = p
            _emit(bw, gc, g)
            _emit(bw, rc, r)
            _emit(bw, bc, b)
            _emit(bw, ac, a)
        elif p[0] == "copy":
            _, lc, lx, lv, dcode, dx, dv = p
            _emit(bw, gc, 256 + lc)
            bw.write(lv, lx)
            _emit(bw, dc_, dcode)
            bw.write(dv, dx)
        else:
            _emit(bw, gc, 280 + p[1])


def _wrap_webp(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + len(vp8l_payload).to_bytes(4, "little") + \
        vp8l_payload + (b"\x00" if len(vp8l_payload) & 1 else b"")
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + \
        chunk


def _encode_vp8l(img: np.ndarray, subtract_green=False, predictor=None,
                 palette=False, cache_bits=0, alpha=255) -> bytes:
    """HxWx3 uint8 -> lossless .webp bytes (literal pixels; optional
    one transform; optional color cache exercised opportunistically)."""
    h, w = img.shape[:2]
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    px = img.astype(np.int64)
    argb = ((alpha << 24) | (px[:, :, 0] << 16) | (px[:, :, 1] << 8)
            | px[:, :, 2]).reshape(-1)

    if palette:
        colors = sorted({int(v) for v in argb})
        assert len(colors) <= 256
        bw.write(1, 1)  # transform present
        bw.write(3, 2)  # color indexing
        bw.write(len(colors) - 1, 8)
        # palette image: delta-coded 1 x n
        prev = 0
        ptoks = []
        for c in colors:
            delta = 0
            for sh in (24, 16, 8, 0):
                d = (((c >> sh) & 255) - ((prev >> sh) & 255)) & 255
                delta |= d << sh
            ptoks.append(("lit", delta))
            prev = c
        _encode_vp8l_body(bw, len(colors), 1, ptoks, level0=False)
        lut = {c: i for i, c in enumerate(colors)}
        n = len(colors)
        xbits = 0 if n > 16 else 1 if n > 4 else 2 if n > 2 else 3
        idx = np.array([lut[int(v)] for v in argb],
                       dtype=np.int64).reshape(h, w)
        if xbits:
            per = 1 << xbits
            bpp = 8 >> xbits
            pw = (w + per - 1) // per
            pad = np.zeros((h, pw * per), dtype=np.int64)
            pad[:, :w] = idx
            packed = np.zeros((h, pw), dtype=np.int64)
            for j in range(per):
                packed |= pad[:, j::per] << (bpp * j)
            toks = [("lit", (int(v) & 255) << 8)
                    for v in packed.reshape(-1)]
            bw.write(0, 1)  # end of transforms
            _encode_vp8l_body(bw, pw, h, toks)
        else:
            toks = [("lit", (int(v) & 255) << 8) for v in idx.reshape(-1)]
            bw.write(0, 1)
            _encode_vp8l_body(bw, w, h, toks)
        return _wrap_webp(bw.bytes())

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green
        g = (argb >> 8) & 255
        r = (((argb >> 16) & 255) - g) & 255
        b = ((argb & 255) - g) & 255
        argb = (argb & 0xFF00FF00) | (r << 16) | b
    if predictor is not None:
        mode, size_bits = predictor
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(size_bits - 2, 3)
        bwid = (w + (1 << size_bits) - 1) >> size_bits
        bhgt = (h + (1 << size_bits) - 1) >> size_bits
        sub_toks = [("lit", (255 << 24) | (mode << 8))] * (bwid * bhgt)
        _encode_vp8l_body(bw, bwid, bhgt, sub_toks, level0=False)
        # residuals against the fixed mode (encoder-side forward pass
        # mirrors the spec's special top/left rules)
        img32 = argb.reshape(h, w)
        res = np.zeros_like(img32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(img32[y, x - 1])
                elif x == 0:
                    pred = int(img32[y - 1, x])
                elif mode == 1:
                    pred = int(img32[y, x - 1])
                elif mode == 2:
                    pred = int(img32[y - 1, x])
                else:
                    raise AssertionError("test encoder: modes 1/2 only")
                cur = int(img32[y, x])
                out = 0
                for sh in (24, 16, 8, 0):
                    out |= ((((cur >> sh) & 255) - ((pred >> sh) & 255))
                            & 255) << sh
                res[y, x] = out
        argb = res.reshape(-1)
    bw.write(0, 1)  # end of transforms

    toks = []
    cache = [0] * (1 << cache_bits) if cache_bits else []
    for v in argb:
        v = int(v)
        if cache_bits and cache[_cache_slot(v, cache_bits)] == v:
            toks.append(("cache", v))
        else:
            toks.append(("lit", v))
            if cache_bits:
                cache[_cache_slot(v, cache_bits)] = v
    _encode_vp8l_body(bw, w, h, toks, cache_bits=cache_bits)
    return _wrap_webp(bw.bytes())


# ---------------------------------------------------------------------------
# round-trips
# ---------------------------------------------------------------------------

def test_vp8l_literal_roundtrip():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_encode_vp8l(img)), img)


def test_vp8l_single_color_and_tiny():
    flat = np.full((5, 9, 3), 77, dtype=np.uint8)
    assert np.array_equal(decode_image(_encode_vp8l(flat)), flat)
    one = np.array([[[1, 2, 3]]], dtype=np.uint8)
    assert np.array_equal(decode_image(_encode_vp8l(one)), one)


def test_vp8l_subtract_green_roundtrip():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(6, 7, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_image(_encode_vp8l(img, subtract_green=True)), img)


def test_vp8l_predictor_roundtrip():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(9, 6, 3), dtype=np.uint8)
    for mode in (1, 2):
        got = decode_image(_encode_vp8l(img, predictor=(mode, 2)))
        assert np.array_equal(got, img), f"predictor mode {mode}"


def test_vp8l_palette_roundtrips():
    rng = np.random.default_rng(10)
    # packed widths: 2 colors (8 px/byte), 5 colors (2 px/byte), and an
    # unpacked 40-color palette
    for ncolors in (2, 5, 40):
        pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
        idx = rng.integers(0, ncolors, size=(7, 11))
        img = pal[idx]
        got = decode_image(_encode_vp8l(img, palette=True))
        assert np.array_equal(got, img), f"{ncolors} colors"


def test_vp8l_color_cache_roundtrip():
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 4, size=(8, 8))]
    blob = _encode_vp8l(img, cache_bits=4)
    assert np.array_equal(decode_image(blob), img)


def test_vp8l_lz77_copy_roundtrip():
    """Hand-planned token stream: literals then backward copies (raw
    long-distance codes), crossing row boundaries."""
    w, h = 6, 3
    row = [(255 << 24) | (10 * (i + 1) << 16) | (7 << 8) | i
           for i in range(w)]
    pixels = row + row + row  # three identical rows
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    toks = [("lit", p) for p in row] + [("copy", 2 * w, w)]
    _encode_vp8l_body(bw, w, h, toks)
    got = decode_image(_wrap_webp(bw.bytes()))
    exp = np.array([[[(p >> 16) & 255, (p >> 8) & 255, p & 255]
                     for p in row]] * 3, dtype=np.uint8)
    assert np.array_equal(got, exp)


def test_vp8l_overlapping_copy():
    """dist < length: the copy reads pixels it just wrote (RLE-style),
    the classic LZ77 overlap case."""
    w, h = 8, 2
    first = (255 << 24) | (200 << 16) | (100 << 8) | 50
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)
    _encode_vp8l_body(bw, w, h, [("lit", first), ("copy", w * h - 1, 1)])
    got = decode_image(_wrap_webp(bw.bytes()))
    assert np.array_equal(got, np.full((h, w, 3), [200, 100, 50],
                                       dtype=np.uint8))


# ---------------------------------------------------------------------------
# real third-party file
# ---------------------------------------------------------------------------

def _alph_chunk(webp: bytes):
    i = 12
    out = {}
    while i + 8 <= len(webp):
        tag = webp[i:i + 4]
        size = int.from_bytes(webp[i + 4:i + 8], "little")
        out[tag] = webp[i + 8:i + 8 + size]
        i += 8 + size + (size & 1)
    return out


def test_real_webp_alpha_plane():
    """CPython's python.webp is lossy VP8 + a method-1 (VP8L-coded)
    ALPH chunk — a real third-party VP8L bitstream over the same 16x16
    logo as the cross-format agreement set. The decoded alpha plane
    must be the logo's shape mask: fully transparent corners, fully
    opaque core, and >= 85% agreement with the PNG's non-black
    stencil (antialiased edge pixels account for the rest)."""
    if not _IMGDATA:
        pytest.skip("no imghdrdata fixtures")
    base = _IMGDATA[0] + "/"
    chunks = _alph_chunk(open(base + "python.webp", "rb").read())
    assert b"ALPH" in chunks and b"VP8 " in chunks
    assert chunks[b"ALPH"][0] & 3 == 1  # lossless-coded alpha
    alpha = _decode_webp_alpha(chunks[b"ALPH"], 16, 16)
    assert alpha.shape == (16, 16) and alpha.dtype == np.uint8
    # corners transparent, core opaque
    assert alpha[0, 0] == alpha[0, 15] == alpha[15, 0] == alpha[15, 15] == 0
    assert alpha[5, 2] == alpha[9, 8] == 255
    png = decode_image(open(base + "python.png", "rb").read())
    stencil = png.astype(int).sum(axis=2) > 30
    agreement = (stencil == (alpha > 30)).mean()
    assert agreement >= 0.85, agreement


def test_real_webp_lossy_is_honest_stub():
    if not _IMGDATA:
        pytest.skip("no imghdrdata fixtures")
    blob = open(_IMGDATA[0] + "/python.webp", "rb").read()
    with pytest.raises(NotImplementedError, match="lossy WebP"):
        decode_image(blob)
    # fake mode falls back to the deterministic stub
    assert decode_image(blob, fake=True).shape == (8, 8, 3)


@pytest.mark.parametrize("name", ["python.jpg", "python.ras", "python.sgi"])
def test_real_undecoded_formats_are_honest_stub(name):
    """JPEG, Sun Raster and SGI have no native decoder: real third-party
    files take the unsupported-format path, like lossy WebP."""
    if not _IMGDATA:
        pytest.skip("no imghdrdata fixtures")
    blob = open(_IMGDATA[0] + "/" + name, "rb").read()
    with pytest.raises(NotImplementedError, match="not natively decodable"):
        decode_image(blob)
    assert decode_image(blob, fake=True).shape == (8, 8, 3)


# ---------------------------------------------------------------------------
# malformed contracts
# ---------------------------------------------------------------------------

def test_webp_malformed():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    blob = _encode_vp8l(img)
    with pytest.raises(ValueError, match="malformed WebP"):
        _decode_webp(blob[:14])
    with pytest.raises(ValueError, match="malformed WebP"):
        _decode_webp(blob[:30])  # truncated VP8L stream
    bad = bytearray(blob)
    bad[20] ^= 0xFF  # clobber the VP8L signature byte
    with pytest.raises(ValueError, match="malformed WebP"):
        _decode_webp(bytes(bad))
    with pytest.raises(ValueError, match="malformed WebP"):
        _decode_webp_alpha(b"\x02" + b"\x00" * 16, 4, 4)  # bad method
    with pytest.raises(ValueError, match="malformed WebP"):
        _decode_webp_alpha(b"\x01" + b"\xff" * 4, 16, 16)  # truncated
