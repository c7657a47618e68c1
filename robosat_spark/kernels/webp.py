"""From-scratch WebP-lossless (VP8L) codec — decode + baseline encode.

Implements the public "WebP Lossless Bitstream Specification" directly
(no libwebp in this environment): RIFF/VP8L container, LSB-first
bitstream, canonical prefix codes with the code-length code (simple and
full forms), meta-prefix (Huffman image) groups, color cache, LZ77
backward references with the 2-D distance mapping, and all four inverse
transforms (predictor x14 modes, color transform, subtract-green, color
indexing with pixel bundling).

The encoder is a baseline literal encoder (parity with the repo's
baseline-JPEG philosophy, kernels/jpeg.py): no transforms, no LZ77, no
cache — four per-channel canonical prefix codes (simple 1/2-symbol codes
when a channel is near-constant), which every spec-conformant decoder
reads. Round-trip is exact by construction; decode of the richer feature
set is covered by hand-built bitstreams in tests/test_webp.py.

Conventions pinned by tests (the spec's): prefix-code bits are read MSB
of the codeword first from the LSB-first byte stream (DEFLATE's packing);
the distance map is the 120 nearest (dx, dy) neighbors (y in 0..8,
x in -8..8, y>0 or x>0) ordered by (dx²+dy², |dx|, dx<0) — the prefix of
that ordering is pinned as a known-answer test; our encoder never emits
plane codes, so external-file decode is the only consumer of the tail.

Reference parity target: the reference reads .webp tiles via PIL
(/root/reference/robosat/tiles.py:85); this codec replaces the previous
NotImplementedError stub for the lossless profile (lossy VP8 stays
stubbed — it is a different codec family).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# bit I/O (LSB-first within each byte)
# ---------------------------------------------------------------------------


class BitReaderLSB:
    __slots__ = ("data", "byte_pos", "bit_pos")

    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.byte_pos = byte_pos
        self.bit_pos = 0

    def read_bit(self) -> int:
        b = (self.data[self.byte_pos] >> self.bit_pos) & 1
        self.bit_pos += 1
        if self.bit_pos == 8:
            self.bit_pos = 0
            self.byte_pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.read_bit() << i
        return v


class BitWriterLSB:
    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write_bits(self, value: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def write_code(self, code: int, length: int) -> None:
        """Prefix codeword: MSB of the code first (DEFLATE packing)."""
        for i in range(length - 1, -1, -1):
            self.write_bits((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------


class PrefixDecoder:
    """Canonical prefix decoder from a code-length array. Codes are
    assigned per canonical rule (ascending length, then symbol) and read
    MSB-first. A single-symbol code costs zero bits."""

    __slots__ = ("single", "first_code", "first_sym_index", "syms", "max_len")

    def __init__(self, lengths: list[int]):
        syms = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not syms:
            raise ValueError("empty prefix code")
        if len(syms) == 1:
            self.single = syms[0][1]
            return
        self.single = None
        syms.sort()
        self.max_len = syms[-1][0]
        # per-length: first canonical code and index into the symbol list
        self.first_code = {}
        self.first_sym_index = {}
        self.syms = [s for _l, s in syms]
        code = 0
        i = 0
        for length in range(1, self.max_len + 1):
            self.first_code[length] = code
            self.first_sym_index[length] = i
            n_here = sum(1 for l, _s in syms if l == length)
            code = (code + n_here) << 1
            i += n_here
        # completeness check (kraft equality) — catches corrupt streams
        kraft = sum(1 << (self.max_len - l) for l, _s in syms)
        if kraft != 1 << self.max_len:
            raise ValueError("invalid (non-complete) prefix code")

    def decode(self, br: BitReaderLSB) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while True:
            code = (code << 1) | br.read_bit()
            length += 1
            if length > self.max_len:
                raise ValueError("corrupt prefix stream")
            first = self.first_code.get(length)
            if first is None:
                continue
            count = self.first_sym_index.get(length + 1, len(self.syms)) - self.first_sym_index[length]
            if first <= code < first + count:
                return self.syms[self.first_sym_index[length] + code - first]


def build_code_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Huffman code lengths (length-limited) from a symbol histogram."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise ValueError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items())) if f > 0]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    i = len(heap)
    while len(heap) > 1:
        fa, _ia, sa = heapq.heappop(heap)
        fb, _ib, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, i, sa + sb))
        i += 1
    # clamp to max_len restoring EXACT kraft equality (the decoder asserts
    # completeness) — integer arithmetic in units of 2^-max_len
    if max(depth.values()) > max_len:
        from collections import Counter

        cnt = Counter(min(d, max_len) for d in depth.values())
        unit = 1 << max_len
        kraft = sum(n << (max_len - l) for l, n in cnt.items())
        while kraft > unit:  # oversubscribed: push a shallow symbol deeper
            for l in range(max_len - 1, 0, -1):
                if cnt[l] > 0:
                    cnt[l] -= 1
                    cnt[l + 1] += 1
                    kraft -= 1 << (max_len - l - 1)
                    break
        for l in range(max_len, 1, -1):  # undersubscribed: promote back up
            while cnt[l] > 0 and kraft + (1 << (max_len - l)) <= unit:
                cnt[l] -= 1
                cnt[l - 1] += 1
                kraft += 1 << (max_len - l)
        assert kraft == unit, "kraft repair failed"
        order = sorted(syms, key=lambda s: (freqs[s], s), reverse=True)
        lens_sorted = sorted((l for l, n in cnt.items() for _ in range(n)), reverse=True)
        return dict(zip(order, lens_sorted))
    return depth


def canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical (ascending length, then symbol)."""
    out = {}
    code = 0
    prev_len = 0
    for length, sym in sorted((l, s) for s, l in lengths.items()):
        code <<= length - prev_len
        out[sym] = (code, length)
        code += 1
        prev_len = length
    return out


# ---------------------------------------------------------------------------
# VP8L constants
# ---------------------------------------------------------------------------

SIGNATURE = 0x2F
CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
NUM_LENGTH_CODES = 24
NUM_DISTANCE_CODES = 40
T_PREDICTOR, T_COLOR, T_SUBTRACT_GREEN, T_COLOR_INDEXING = 0, 1, 2, 3


def _distance_map() -> list[tuple[int, int]]:
    """The 120 nearest (dx, dy) offsets: y in 0..8, x in -8..8 with
    (y > 0 or x > 0), ordered by (dx²+dy², |dx|, dx<0); prefix pinned by
    known-answer test."""
    cand = [
        (x, y)
        for y in range(0, 9)
        for x in range(-8, 9)
        if y > 0 or x > 0
    ]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0))
    return cand[:120]


DISTANCE_MAP = _distance_map()


def _plane_code_to_distance(width: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = DISTANCE_MAP[code - 1]
    return max(1, dy * width + dx)


def _prefix_value(code: int, br: BitReaderLSB) -> int:
    """LZ77 length/distance prefix decoding (spec §4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read_bits(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix_code, extra_bits_value, extra_bits_count); exact
    inverse of :func:`_prefix_value` (pinned by a round-trip test)."""
    v = value - 1
    if v < 4:
        return v, 0, 0
    h = v.bit_length() - 1
    s = (v >> (h - 1)) & 1
    code = 2 * h + s
    extra = h - 1
    offset = (2 + s) << extra
    return code, v - offset, extra


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _read_prefix_code(br: BitReaderLSB, alphabet_size: int) -> PrefixDecoder:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():
            first = br.read_bits(8)
        else:
            first = br.read_bits(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[first] = 1
            d = PrefixDecoder(lengths)
            d.single = first  # 1-symbol: zero bits per use
            return d
        second = br.read_bits(8)
        lengths[first] = 1
        lengths[second] = 1
        return PrefixDecoder(lengths)
    # full form: code-length code
    cl_lengths = [0] * 19
    num_codes = 4 + br.read_bits(4)
    for i in range(num_codes):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read_bits(3)
    cl = PrefixDecoder(cl_lengths)
    lengths = [0] * alphabet_size
    if br.read_bit():  # explicit max symbol
        length_nbits = 2 + 2 * br.read_bits(3)
        max_symbol = 2 + br.read_bits(length_nbits)
    else:
        max_symbol = alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl.decode(br)
        if s < 16:
            lengths[sym] = s
            sym += 1
            if s != 0:
                prev_len = s
        elif s == 16:
            for _ in range(3 + br.read_bits(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif s == 17:
            sym += 3 + br.read_bits(3)
        else:  # 18
            sym += 11 + br.read_bits(7)
    return PrefixDecoder(lengths)


class _Group:
    __slots__ = ("green", "red", "blue", "alpha", "dist")

    def __init__(self, br, cache_size):
        self.green = _read_prefix_code(br, 256 + NUM_LENGTH_CODES + cache_size)
        self.red = _read_prefix_code(br, 256)
        self.blue = _read_prefix_code(br, 256)
        self.alpha = _read_prefix_code(br, 256)
        self.dist = _read_prefix_code(br, NUM_DISTANCE_CODES)


def _decode_image_stream(br: BitReaderLSB, w: int, h: int, is_level0: bool):
    """-> (argb uint32 array of w*h, transforms list [level0 only])."""
    transforms = []
    xsize = w
    if is_level0:
        while br.read_bit():
            ttype = br.read_bits(2)
            if any(t[0] == ttype for t in transforms):
                raise ValueError("duplicate transform")
            if ttype in (T_PREDICTOR, T_COLOR):
                size_bits = br.read_bits(3) + 2
                bs = 1 << size_bits
                sw, sh = (xsize + bs - 1) >> size_bits, (h + bs - 1) >> size_bits
                sub, _ = _decode_image_stream(br, sw, sh, False)
                transforms.append((ttype, size_bits, sub, xsize))
            elif ttype == T_SUBTRACT_GREEN:
                transforms.append((ttype,))
            else:  # color indexing
                n_colors = br.read_bits(8) + 1
                pal, _ = _decode_image_stream(br, n_colors, 1, False)
                # palette deltas accumulate per channel
                acc = np.cumsum(pal.astype(np.uint32).view(np.uint8).reshape(-1, 4), axis=0, dtype=np.uint32).astype(np.uint8)
                pal = acc.reshape(-1, 4).copy().view(np.uint32).reshape(-1)
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((ttype, width_bits, pal, xsize))
                if width_bits:
                    xsize = (xsize + (1 << width_bits) - 1) >> width_bits
    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read_bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color cache bits")
    cache_size = (1 << cache_bits) if cache_bits else 0
    # meta prefix image
    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read_bits(3) + 2
        mw, mh = (xsize + (1 << meta_bits) - 1) >> meta_bits, (h + (1 << meta_bits) - 1) >> meta_bits
        meta, _ = _decode_image_stream(br, mw, mh, False)
        num_groups = int(((meta >> 8) & 0xFFFF).max()) + 1
    groups = [_Group(br, cache_size) for _ in range(num_groups)]
    # pixel loop
    n = xsize * h
    out = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            mpos = (y >> meta_bits) * ((xsize + (1 << meta_bits) - 1) >> meta_bits) + (x >> meta_bits)
            g = groups[(int(meta[mpos]) >> 8) & 0xFFFF]
        else:
            g = groups[0]
        s = g.green.decode(br)
        if s < 256:
            red = g.red.decode(br)
            blue = g.blue.decode(br)
            alpha = g.alpha.decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + NUM_LENGTH_CODES:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(g.dist.decode(br), br)
            dist = _plane_code_to_distance(xsize, dist_code)
            if dist > pos:
                raise ValueError("backward reference before image start")
            for _ in range(length):
                if pos >= n:
                    break
                px = int(out[pos - dist])
                out[pos] = px
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                pos += 1
        else:
            out[pos] = cache[s - 256 - NUM_LENGTH_CODES]
            pos += 1
    return out, transforms


def _apply_inverse_transforms(argb: np.ndarray, w: int, h: int, transforms) -> np.ndarray:
    """argb flat uint32 (possibly bundled-width) -> (h, w) uint32."""
    for t in reversed(transforms):
        ttype = t[0]
        if ttype == T_COLOR_INDEXING:
            _t, width_bits, pal, orig_w = t
            packed_w = (orig_w + (1 << width_bits) - 1) >> width_bits if width_bits else orig_w
            img = argb.reshape(h, packed_w)
            greens = (img >> 8) & 0xFF
            if width_bits:
                ppp = 1 << width_bits  # pixels per packed green
                ibits = 8 >> width_bits  # bits per index
                idx = np.zeros((h, packed_w * ppp), dtype=np.uint32)
                for k in range(ppp):
                    idx[:, k::ppp] = (greens >> (k * ibits)) & ((1 << ibits) - 1)
                idx = idx[:, :orig_w]
            else:
                idx = greens
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("palette index out of range")
            argb = pal[idx].reshape(-1)
        elif ttype == T_SUBTRACT_GREEN:
            a = argb.view(np.uint8).reshape(-1, 4)  # little-endian: b, g, r, a
            g = a[:, 1]
            a[:, 2] = (a[:, 2].astype(np.uint16) + g) & 0xFF
            a[:, 0] = (a[:, 0].astype(np.uint16) + g) & 0xFF
        elif ttype == T_COLOR:
            _t, size_bits, sub, orig_w = t
            img = argb.view(np.uint8).reshape(h, orig_w, 4)  # b,g,r,a
            sw = (orig_w + (1 << size_bits) - 1) >> size_bits
            subs = sub.view(np.uint8).reshape(-1, 4)  # per spec: g2r in blue, g2b in green, r2b in red
            for y in range(h):
                for x in range(orig_w):
                    e = subs[(y >> size_bits) * sw + (x >> size_bits)]
                    g2r, g2b, r2b = int(e[0]), int(e[1]), int(e[2])
                    b, g, r = int(img[y, x, 0]), int(img[y, x, 1]), int(img[y, x, 2])
                    r = (r + _ctdelta(g2r, g)) & 0xFF
                    b = (b + _ctdelta(g2b, g) + _ctdelta(r2b, r)) & 0xFF
                    img[y, x, 0] = b
                    img[y, x, 2] = r
        elif ttype == T_PREDICTOR:
            _t, size_bits, sub, orig_w = t
            img = argb.view(np.uint8).reshape(h, orig_w, 4).astype(np.int32)  # residuals b,g,r,a
            sw = (orig_w + (1 << size_bits) - 1) >> size_bits
            modes = ((sub >> 8) & 0xFF).reshape(-1)
            out = np.zeros_like(img)
            for y in range(h):
                for x in range(orig_w):
                    if x == 0 and y == 0:
                        pred = np.array([0, 0, 0, 255], dtype=np.int32)  # b,g,r,a black
                    elif y == 0:
                        pred = out[0, x - 1]
                    elif x == 0:
                        pred = out[y - 1, 0]
                    else:
                        mode = int(modes[(y >> size_bits) * sw + (x >> size_bits)])
                        L = out[y, x - 1]
                        T = out[y - 1, x]
                        TL = out[y - 1, x - 1]
                        # spec TR is flat-array pos-width+1: for the
                        # rightmost column that wraps to the CURRENT row's
                        # leftmost pixel (already reconstructed), not the
                        # previous row's
                        TR = out[y - 1, x + 1] if x + 1 < orig_w else out[y, 0]
                        pred = _predict(mode, L, T, TL, TR)
                    out[y, x] = (img[y, x] + pred) & 0xFF
            argb = out.astype(np.uint8).reshape(-1, 4).copy().view(np.uint32).reshape(-1)
        else:
            raise ValueError(f"unknown transform {ttype}")
    return argb.reshape(h, w)


def _ctdelta(t: int, c: int) -> int:
    """(int8(t) * int8(c)) >> 5 — the color-transform delta."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _predict(mode: int, L, T, TL, TR):
    if mode == 0:
        return np.array([0, 0, 0, 255], dtype=np.int32)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2i(_avg2i(L, TR), T)
    if mode == 6:
        return _avg2i(L, TL)
    if mode == 7:
        return _avg2i(L, T)
    if mode == 8:
        return _avg2i(TL, T)
    if mode == 9:
        return _avg2i(T, TR)
    if mode == 10:
        return _avg2i(_avg2i(L, TL), _avg2i(T, TR))
    if mode == 11:  # Select
        p = L.astype(np.int64) + T - TL
        pl = np.abs(p - L).sum()
        pt = np.abs(p - T).sum()
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L.astype(np.int64) + T - TL, 0, 255).astype(np.int32)
    if mode == 13:  # ClampAddSubtractHalf
        # (a - TL) / 2 is C integer division (truncation toward ZERO per
        # libwebp's AddSubtractComponentHalf), not Python floor division —
        # they differ by 1 for odd negative deltas
        a = _avg2i(L, T).astype(np.int64)
        d = a - TL
        return np.clip(a + np.sign(d) * (np.abs(d) // 2), 0, 255).astype(np.int32)
    raise ValueError(f"bad predictor mode {mode}")


def _avg2i(a, b):
    return (a.astype(np.int64) + b) >> 1


def decode_webp(payload: bytes) -> np.ndarray:
    """WebP bytes -> (h, w, 4) uint8 RGBA. Lossless (VP8L) profile only;
    lossy VP8/VP8X-compound raise NotImplementedError."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return _decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy (VP8) WebP decode not implemented from scratch "
                "(VP8L lossless is; see kernels/webp.py)"
            )
        # VP8X (extended header: metadata/ICC/EXIF/animation flags) is NOT
        # itself a pixel payload — libwebp writes lossless-with-metadata
        # files as VP8X followed by a VP8L chunk, so keep scanning
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8L chunk")


def _decode_vp8l(body: bytes) -> np.ndarray:
    if not body or body[0] != SIGNATURE:
        raise ValueError("bad VP8L signature")
    br = BitReaderLSB(body, 1)
    w = br.read_bits(14) + 1
    h = br.read_bits(14) + 1
    br.read_bit()  # alpha hint
    if br.read_bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb, transforms = _decode_image_stream(br, w, h, True)
    img = _apply_inverse_transforms(argb, w, h, transforms)
    a8 = img.reshape(h, w, 1).view(np.uint8).reshape(h, w, 4)  # b, g, r, a
    return a8[:, :, [2, 1, 0, 3]].copy()  # -> r, g, b, a


# ---------------------------------------------------------------------------
# baseline encoder (literal-only, per-channel canonical codes)
# ---------------------------------------------------------------------------


def _write_full_code(bw: BitWriterLSB, lengths: dict[int, int], alphabet_size: int) -> None:
    """Emit a prefix code in the full (code-length-coded) form: every
    symbol's length written literally (no 16/17/18 repeats — baseline)."""
    all_lens = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freqs: dict[int, int] = {}
    for l in all_lens:
        cl_freqs[l] = cl_freqs.get(l, 0) + 1
    cl_lengths = build_code_lengths(cl_freqs, max_len=7)
    if len(cl_lengths) == 1:  # single CL symbol still needs a 1-bit code
        cl_lengths = {next(iter(cl_lengths)): 1}
    cl_codes = canonical_codes(cl_lengths)
    bw.write_bits(0, 1)  # not simple
    # num_code_lengths: cover every order position whose symbol has a length
    used = [i for i, s in enumerate(CODE_LENGTH_ORDER) if cl_lengths.get(s, 0) > 0]
    num_codes = max(used) + 1 if used else 4
    num_codes = max(num_codes, 4)
    bw.write_bits(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write_bits(cl_lengths.get(CODE_LENGTH_ORDER[i], 0), 3)
    bw.write_bits(0, 1)  # no explicit max_symbol: emit all lengths
    if len(cl_lengths) > 1:
        for l in all_lens:
            code, length = cl_codes[l]
            bw.write_code(code, length)
    # single CL symbol: a one-symbol prefix code costs ZERO bits per use
    # (degenerate-code rule) — emit nothing for the length sequence


def _write_channel_code(bw: BitWriterLSB, freqs: dict[int, int], alphabet_size: int):
    """-> symbol -> (code, length) writer table, emitting the code header."""
    nz = [s for s, f in freqs.items() if f > 0]
    if len(nz) == 1 and nz[0] < 256:
        bw.write_bits(1, 1)  # simple
        bw.write_bits(0, 1)  # 1 symbol
        if nz[0] > 1:
            bw.write_bits(1, 1)
            bw.write_bits(nz[0], 8)
        else:
            bw.write_bits(0, 1)
            bw.write_bits(nz[0], 1)
        return {nz[0]: (0, 0)}  # zero bits per use
    if len(nz) == 2 and all(s < 256 for s in nz):
        a, b = sorted(nz)
        bw.write_bits(1, 1)  # simple
        bw.write_bits(1, 1)  # 2 symbols
        bw.write_bits(1, 1)  # first in 8 bits
        bw.write_bits(a, 8)
        bw.write_bits(b, 8)
        return {a: (0, 1), b: (1, 1)}
    lengths = build_code_lengths(freqs, max_len=15)
    _write_full_code(bw, lengths, alphabet_size)
    return canonical_codes(lengths)


def encode_webp(img: np.ndarray) -> bytes:
    """(h, w[, {1,3,4}]) uint8 -> lossless WebP bytes (baseline literal
    VP8L: no transforms, no LZ77, per-channel canonical prefix codes)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img, img, img], axis=-1)
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    if img.shape[2] == 3:
        img = np.concatenate([img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=2)
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("dimensions out of VP8L range")
    r = img[:, :, 0].reshape(-1)
    g = img[:, :, 1].reshape(-1)
    b = img[:, :, 2].reshape(-1)
    a = img[:, :, 3].reshape(-1)

    bw = BitWriterLSB()
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(int((a != 255).any()), 1)
    bw.write_bits(0, 3)  # version
    bw.write_bits(0, 1)  # no transforms
    bw.write_bits(0, 1)  # no color cache
    bw.write_bits(0, 1)  # no meta prefix
    def hist(arr):
        vals, counts = np.unique(arr, return_counts=True)
        return {int(v): int(c) for v, c in zip(vals, counts)}

    green_tab = _write_channel_code(bw, hist(g), 256 + NUM_LENGTH_CODES)
    red_tab = _write_channel_code(bw, hist(r), 256)
    blue_tab = _write_channel_code(bw, hist(b), 256)
    alpha_tab = _write_channel_code(bw, hist(a), 256)
    _write_channel_code(bw, {0: 1}, NUM_DISTANCE_CODES)  # unused distance code

    for i in range(h * w):
        c, l = green_tab[int(g[i])]
        bw.write_code(c, l)
        c, l = red_tab[int(r[i])]
        bw.write_code(c, l)
        c, l = blue_tab[int(b[i])]
        bw.write_code(c, l)
        c, l = alpha_tab[int(a[i])]
        bw.write_code(c, l)
    vp8l = bytes([SIGNATURE]) + bw.finish()

    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        riff += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
