"""Pure-numpy JPEG codec (ITU-T T.81 / JFIF — fully public spec).

Decoder: baseline sequential (SOF0) AND progressive (SOF2) DCT — full
spectral selection + successive approximation with EOB runs and AC
refinement (T.81 Annex G.2) — 8-bit, grayscale or YCbCr with any h/v
sampling factors ≤ 2 (4:4:4, 4:2:2, 4:2:0), restart intervals
(DRI/RSTn), multi-scan with DHT redefinition between scans, canonical
Huffman tables, FF00 byte unstuffing.  Every scan decodes into
per-component coefficient stores; dequantization + IDCT run once,
vectorized over all blocks.  Arithmetic coding, 12-bit precision and
hierarchical mode raise ``NotImplementedError`` honestly.

Encoder: baseline or progressive (``progressive=True``: DC/AC
successive-approximation scan script with per-scan optimal Huffman
tables derived by Annex K.2) at 4:4:4 / 4:2:0 / grayscale, optional
``restart_interval`` — enough to produce real, spec-conformant payloads
for tests and for the Spark-side multimodal plumbing, including
progressive test vectors the decoder must reproduce bit-for-bit.

This is the last of the multimodal codecs that could be implemented
without external libraries; entropy coding runs per 8×8 block in Python,
which is fine inside the Arrow-batched ``mapInPandas`` decode stage where
payload parsing is already the declared Python boundary.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 — example luminance/chrominance quantization tables
K1_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
K1_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.3 — typical Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II basis: IDCT is C.T @ coef @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(1.0 / 8.0) if _k == 0 else np.sqrt(2.0 / 8.0)
        )


def _quality_scale(tbl: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table (libjpeg jcparam.c formula —
    public source)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (tbl * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _build_huffman_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: map (code_length, code) → symbol."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_huffman_encode(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code_length, code)."""
    return {v: k for k, v in _build_huffman_decode(bits, vals).items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00 unstuffing."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self):
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                # marker reached (incl. RSTn — the scan loop resyncs via
                # :meth:`restart`) — per spec the decoder pads with 1-bits
                b = 0xFF
                self.pos -= 1  # leave marker for the caller
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def restart(self) -> int:
        """Byte-align, consume the RSTn marker at the current position and
        return n (T.81 F.2.1.3.1) — the caller resets DC predictors and
        the EOB run, and checks n cycles 0..7."""
        self.bitbuf = 0
        self.nbits = 0
        while (
            self.data[self.pos] == 0xFF and self.data[self.pos + 1] == 0xFF
        ):  # fill bytes
            self.pos += 1
        if self.data[self.pos] != 0xFF or not (0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        n = self.data[self.pos + 1] & 0x07
        self.pos += 2
        return n

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the raw ``size``-bit value to its signed
    coefficient."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.bitbuf = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.bitbuf = (self.bitbuf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.bitbuf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _csize(v: int) -> int:
    """Coefficient magnitude category (number of bits)."""
    a = abs(v)
    s = 0
    while a:
        a >>= 1
        s += 1
    return s


def _quantize_planes(planes, factors, qtabs, ncomp):
    """FDCT + quantize every (MCU-padded) 8×8 block of every plane at
    once → per-component zigzag coefficient stores (by, bx, 64) int64.
    One vectorized einsum per component replaces the per-block Python
    loop the encoder used to run."""
    store = []
    for ci in range(ncomp):
        p = planes[ci]
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) - 128.0
        coef = np.einsum("ij,yxjk,lk->yxil", _C, blocks, _C)  # C @ b @ C.T
        q = qtabs[0 if ci == 0 else 1].astype(np.float64)
        zz = np.round(coef / q).astype(np.int64).reshape(by, bx, 64)[..., ZIGZAG]
        store.append(zz)
    return store


class _SymbolCounter:
    """Emission sink that only counts Huffman symbols — the first pass of
    the two-pass optimal-table flow (T.81 Annex K.2)."""

    def __init__(self):
        self.freq = {}

    def sym(self, s):
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v, n):
        pass


class _ScanWriter:
    """Emission sink that Huffman-codes symbols into a _BitWriter."""

    def __init__(self, bw, enc):
        self.bw = bw
        self.enc = enc

    def sym(self, s):
        length, code = self.enc[s]
        self.bw.write(code, length)

    def bits(self, v, n):
        if n:
            self.bw.write(v, n)


def _optimal_huffman(freq):
    """T.81 Annex K.2: derive (bits[16], huffval) from symbol frequencies
    — code lengths by repeated least-frequent merging, limited to 16 bits,
    with the all-1-bits codeword reserved via the dummy symbol 256."""
    freq = dict(freq)
    freq[256] = 1  # reserves the all-ones code
    codesize = {s: 0 for s in freq}
    others = {s: -1 for s in freq}
    while True:
        active = [s for s in freq if freq[s] > 0]
        if len(active) <= 1:
            break
        v1 = min(active, key=lambda s: (freq[s], -s))
        v2 = min((s for s in active if s != v1), key=lambda s: (freq[s], -s))
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for s, sz in codesize.items():
        if sz:
            bits[sz] += 1
    i = 32  # ADJUST_BITS (figure K.3): fold code lengths > 16 back
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the dummy (it got the longest, all-ones code)
    huffval = [
        s
        for s in sorted(codesize, key=lambda s: (codesize[s], s))
        if codesize[s] and s != 256
    ]
    return bits[1:17], huffval


def _emit_dc(w, zz, pred, Al):
    """DC first pass: Huffman-coded size + diff bits of the
    point-transformed DC (T.81 G.1.2.1; baseline is Al=0)."""
    dc = int(zz[0]) >> Al
    diff = dc - pred
    size = _csize(diff)
    w.sym(size)
    if size:
        w.bits(diff if diff >= 0 else diff + (1 << size) - 1, size)
    return dc


def _emit_ac_first(w, zz, Ss, Se, Al, eobrun, flush):
    """AC first pass for one block (T.81 G.1.2.2 with EOB-run
    accumulation; baseline is the Ss=1, Se=63, Al=0 single-scan case
    where EOB runs never exceed 1).  Returns the updated EOB run;
    ``flush()`` emits any pending EOBn."""
    av = [0] * (Se + 1)
    last = -1
    for k in range(Ss, Se + 1):
        x = int(zz[k])
        av[k] = (x >> Al) if x >= 0 else -((-x) >> Al)
        if av[k]:
            last = k
    if last < 0:
        eobrun += 1
        return flush(eobrun) if eobrun == 0x7FFF else eobrun
    eobrun = flush(eobrun)
    run = 0
    for k in range(Ss, last + 1):
        x = av[k]
        if x == 0:
            run += 1
            continue
        while run > 15:
            w.sym(0xF0)  # ZRL
            run -= 16
        size = _csize(x)
        w.sym((run << 4) | size)
        w.bits(x if x >= 0 else x + (1 << size) - 1, size)
        run = 0
    if last < Se:
        eobrun += 1
        if eobrun == 0x7FFF:
            eobrun = flush(eobrun)
    return eobrun


def _emit_ac_refine(w, zz, Ss, Se, Al, eobrun, pending, flush):
    """AC refinement pass for one block (T.81 G.1.2.3 / the libjpeg-
    documented correction-bit algorithm): newly-significant coefficients
    get a (run, 1) symbol + sign bit; already-significant ones buffer a
    correction bit emitted after the next symbol or with the EOB run."""
    absv = [0] * (Se + 1)
    eobpos = Ss - 1  # last newly-significant index
    for k in range(Ss, Se + 1):
        absv[k] = abs(int(zz[k])) >> Al
        if absv[k] == 1:
            eobpos = k
    run = 0
    br_bits = []
    for k in range(Ss, eobpos + 1):
        t = absv[k]
        if t == 0:
            run += 1
            continue
        # ZRLs (not foldable into EOB since k <= eobpos) come BEFORE the
        # correction-bit branch — the decoder consumes buffered bits for
        # history coefficients it passes during each 16-zero skip
        while run > 15:
            eobrun = flush(eobrun)
            w.sym(0xF0)
            run -= 16
            for b in br_bits:
                w.bits(b, 1)
            br_bits = []
        if t > 1:  # history-significant: correction bit, not run-counted
            br_bits.append(t & 1)
            continue
        eobrun = flush(eobrun)
        w.sym((run << 4) | 1)
        w.bits(1 if int(zz[k]) >= 0 else 0, 1)
        for b in br_bits:
            w.bits(b, 1)
        br_bits = []
        run = 0
    # tail: correction bits after the last newly-significant coefficient
    for k in range(eobpos + 1, Se + 1):
        if absv[k] > 1:
            br_bits.append(absv[k] & 1)
    if run > 0 or br_bits or eobpos < Se:
        eobrun += 1
        pending.extend(br_bits)
        if eobrun == 0x7FFF:
            eobrun = flush(eobrun)
    return eobrun


def _scan_block_seq(store, members, factors, mcux, mcuy, nonint):
    """Yield (component_index, zigzag_vector) in scan order: interleaved
    MCU order when the scan has several components, the component's own
    non-interleaved block raster otherwise (T.81 A.2)."""
    if len(members) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in members:
                    fh, fv = factors[ci]
                    for v in range(fv):
                        for h in range(fh):
                            yield ci, store[ci][my * fv + v, mx * fh + h]
    else:
        ci = members[0]
        nby, nbx = nonint[ci]
        for by in range(nby):
            for bx in range(nbx):
                yield ci, store[ci][by, bx]


def encode_jpeg(width: int, height: int, pixels: bytes, quality: int = 90,
                grayscale: bool = False, subsampling: str = "444",
                progressive: bool = False, restart_interval: int = 0) -> bytes:
    """JFIF encoder.  ``pixels`` is ``width*height*3`` RGB bytes (row 0
    first) — or ``width*height`` gray bytes with ``grayscale=True``.
    ``subsampling``: "444" or "420" (chroma averaged 2×2, the common
    camera/web layout that exercises multi-block MCU interleave).

    ``progressive=True`` emits SOF2 with a full successive-approximation
    scan script (DC first Al=1 → per-component AC first scans over two
    spectral bands at Al=1 → DC refine → per-component AC refine scans),
    with per-scan optimal Huffman tables derived by Annex K.2 — the same
    coefficients as baseline, re-ordered losslessly, so a decoder must
    reproduce the baseline output bit-for-bit.  ``restart_interval=N``
    (baseline path) emits DRI + RSTn every N MCUs.  Annex-K tables
    quality-scaled with the IJG formula for the baseline scan."""
    ncomp = 1 if grayscale else 3
    if len(pixels) != width * height * ncomp:
        raise ValueError("pixels length must match width*height*components")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, ncomp).astype(np.float64)
    if grayscale:
        planes = [arr[:, :, 0]]
        factors = [(1, 1)]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            def down2(p):
                ph = (p.shape[0] + 1) // 2 * 2
                pw = (p.shape[1] + 1) // 2 * 2
                full = np.empty((ph, pw))
                full[: p.shape[0], : p.shape[1]] = p
                full[p.shape[0] :, : p.shape[1]] = p[-1:, :]
                full[:, p.shape[1] :] = full[:, p.shape[1] - 1 : p.shape[1]]
                return (full[0::2, 0::2] + full[1::2, 0::2] + full[0::2, 1::2] + full[1::2, 1::2]) / 4.0

            planes = [y, down2(cb), down2(cr)]
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            factors = [(1, 1), (1, 1), (1, 1)]

    qt = [_quality_scale(K1_LUMA, quality).reshape(8, 8)]
    if not grayscale:
        qt.append(_quality_scale(K1_CHROMA, quality).reshape(8, 8))

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.pad(
            p,
            ((0, mcuy * fv * 8 - p.shape[0]), (0, mcux * fh * 8 - p.shape[1])),
            mode="edge",
        )
        for p, (fh, fv) in zip(planes, factors)
    ]
    store = _quantize_planes(planes, factors, qt, ncomp)
    # non-interleaved block grids (T.81 A.2.2) for single-component scans
    nonint = []
    for ci in range(ncomp):
        fh, fv = factors[ci]
        cw = (width * fh + hmax - 1) // hmax
        ch = (height * fv + vmax - 1) // vmax
        nonint.append(((ch + 7) // 8, (cw + 7) // 8))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(members, tsel, Ss, Se, Ah, Al):
        body = bytes([len(members)])
        for ci in members:
            body += struct.pack("BB", ci + 1, tsel(ci))
        return seg(0xFFDA, body + bytes([Ss, Se, (Ah << 4) | Al]))

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, t in enumerate(qt):
        out += seg(0xFFDB, bytes([ti]) + bytes(int(x) for x in t.reshape(-1)[ZIGZAG]))
    comp = b"".join(
        struct.pack(
            "BBB", i + 1, (factors[i][0] << 4) | factors[i][1], 0 if i == 0 else 1
        )
        for i in range(ncomp)
    )
    sof = 0xFFC2 if progressive else 0xFFC0
    out += seg(sof, struct.pack(">BHHB", 8, height, width, ncomp) + comp)

    if not progressive:
        huffs = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
        if not grayscale:
            huffs += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS), (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
        for tc, bits, vals in huffs:
            out += seg(0xFFC4, bytes([tc]) + bytes(bits) + bytes(vals))
        if restart_interval:
            out += seg(0xFFDD, struct.pack(">H", restart_interval))
        dc_enc = [_build_huffman_encode(DC_LUMA_BITS, DC_LUMA_VALS)]
        ac_enc = [_build_huffman_encode(AC_LUMA_BITS, AC_LUMA_VALS)]
        if not grayscale:
            dc_enc.append(_build_huffman_encode(DC_CHROMA_BITS, DC_CHROMA_VALS))
            ac_enc.append(_build_huffman_encode(AC_CHROMA_BITS, AC_CHROMA_VALS))
        bw = _BitWriter()
        preds = [0] * ncomp
        members = list(range(ncomp))
        next_rst = 0
        mcu_done = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_done == restart_interval:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + next_rst])
                    next_rst = (next_rst + 1) & 7
                    preds = [0] * ncomp
                    mcu_done = 0
                mcu_done += 1
                for ci in members:
                    ti = 0 if ci == 0 else 1
                    fh, fv = factors[ci]
                    dcw = _ScanWriter(bw, dc_enc[ti])
                    acw = _ScanWriter(bw, ac_enc[ti])
                    for v in range(fv):
                        for h in range(fh):
                            zz = store[ci][my * fv + v, mx * fh + h]
                            preds[ci] = _emit_dc(dcw, zz, preds[ci], 0)
                            # baseline: every block flushes its own EOB
                            e = _emit_ac_first(
                                acw, zz, 1, 63, 0, 0, lambda e: _eob0(acw, e)
                            )
                            _eob0(acw, e)
        bw.flush()
        out += sos(members, lambda ci: 0x00 if ci == 0 else 0x11, 0, 63, 0, 0)
        out += bw.out
        out += b"\xff\xd9"
        return bytes(out)

    # --- progressive scan script ---
    members_all = list(range(ncomp))
    bands = [(1, 5), (6, 63)]
    script = [("dc_first", members_all, 0, 0, 0, 1)]
    for ci in range(ncomp):
        for (bs, be) in bands:
            script.append(("ac_first", [ci], bs, be, 0, 1))
    script.append(("dc_refine", members_all, 0, 0, 1, 0))
    for ci in range(ncomp):
        for (bs, be) in bands:
            script.append(("ac_refine", [ci], bs, be, 1, 0))

    for kind, members, Ss, Se, Ah, Al in script:
        if kind == "dc_refine":
            # raw bits only — no Huffman table, no DHT
            bw = _BitWriter()
            w = _ScanWriter(bw, {})
            for ci, zz in _scan_block_seq(store, members, factors, mcux, mcuy, nonint):
                w.bits((int(zz[0]) >> Al) & 1, 1)
            bw.flush()
            out += sos(members, lambda ci: 0x00, Ss, Se, Ah, Al)
            out += bw.out
            continue

        def run_scan(w):
            if kind == "dc_first":
                preds = {ci: 0 for ci in members}
                for ci, zz in _scan_block_seq(store, members, factors, mcux, mcuy, nonint):
                    preds[ci] = _emit_dc(w, zz, preds[ci], Al)
            elif kind == "ac_first":
                eobrun = 0

                def flush(e):
                    return _flush_eob(w, e)

                for ci, zz in _scan_block_seq(store, members, factors, mcux, mcuy, nonint):
                    eobrun = _emit_ac_first(w, zz, Ss, Se, Al, eobrun, flush)
                _flush_eob(w, eobrun)
            else:  # ac_refine
                eobrun = 0
                pending = []

                def flush(e):
                    return _flush_eob(w, e, pending)

                for ci, zz in _scan_block_seq(store, members, factors, mcux, mcuy, nonint):
                    eobrun = _emit_ac_refine(w, zz, Ss, Se, Al, eobrun, pending, flush)
                _flush_eob(w, eobrun, pending)

        counter = _SymbolCounter()
        run_scan(counter)
        if counter.freq:
            bits, vals = _optimal_huffman(counter.freq)
            tc = 0x00 if kind == "dc_first" else 0x10
            out += seg(0xFFC4, bytes([tc]) + bytes(bits) + bytes(vals))
            enc = _build_huffman_encode(bits, vals)
        else:
            enc = {}
        bw = _BitWriter()
        run_scan(_ScanWriter(bw, enc))
        bw.flush()
        out += sos(members, lambda ci: 0x00, Ss, Se, Ah, Al)
        out += bw.out

    out += b"\xff\xd9"
    return bytes(out)


def _eob0(w, eobrun):
    """Baseline EOB flush: runs are always 0 or 1 and EOB0 has no extra
    bits — the plain Annex-F EOB symbol."""
    if eobrun:
        w.sym(0x00)
    return 0


def _flush_eob(w, eobrun, pending=None):
    """Emit a pending EOBn (G.1.2.2) followed by any buffered
    refinement-correction bits; returns the cleared run (0)."""
    if eobrun > 0:
        n = eobrun.bit_length() - 1
        w.sym(n << 4)
        if n:
            w.bits(eobrun - (1 << n), n)
        if pending:
            for b in pending:
                w.bits(b, 1)
            del pending[:]
    elif pending:
        # correction bits can only ride on an emitted EOB
        raise AssertionError("pending bits without an EOB run")
    return 0


def _decode_scan(br, scan, huff, ri, Ss, Se, Ah, Al, mcux, mcuy):
    """Decode ONE entropy-coded scan into the components' zigzag
    coefficient stores — the unified T.81 F.2 (baseline) / G.2
    (progressive) algorithm.  ``scan`` is a list of dicts with the
    component (carrying ``coef`` (by, bx, 64) and its sampling/grid
    metadata) and its DC/AC table selectors.  Handles restart intervals
    (``ri`` MCUs between RSTn markers), DC first/refine and AC
    first/refine passes with EOB runs.  Baseline is the Ss=0, Se=63,
    Ah=Al=0 case: DC and AC of each block decoded in one visit."""
    interleaved = len(scan) > 1
    if interleaved:
        n_mcu = mcux * mcuy
    else:
        c = scan[0]["comp"]
        n_mcu = c["nbx"] * c["nby"]
    preds = {sc["comp"]["id"]: 0 for sc in scan}
    eobrun = 0
    next_rst = 0
    mcu_done = 0

    def blocks_of(mi):
        if interleaved:
            my, mx = divmod(mi, mcux)
            for sc in scan:
                c = sc["comp"]
                for v in range(c["v"]):
                    for h in range(c["h"]):
                        yield sc, c["coef"][my * c["v"] + v, mx * c["h"] + h]
        else:
            sc = scan[0]
            c = sc["comp"]
            by, bx = divmod(mi, c["nbx"])
            yield sc, c["coef"][by, bx]

    for mi in range(n_mcu):
        if ri and mcu_done == ri:
            n = br.restart()
            if n != next_rst:
                raise ValueError("restart marker out of sequence")
            next_rst = (next_rst + 1) & 7
            for k in preds:
                preds[k] = 0
            eobrun = 0
            mcu_done = 0
        mcu_done += 1
        for sc, coef in blocks_of(mi):
            cid = sc["comp"]["id"]
            if Ss == 0:  # DC pass (or baseline full-block visit)
                if Ah == 0:
                    size = br.decode_symbol(huff[(0, sc["dc"])])
                    diff = _extend(br.read_bits(size), size)
                    preds[cid] += diff
                    coef[0] = preds[cid] << Al
                elif br.read_bit():
                    coef[0] |= 1 << Al
            if Se == 0:
                continue  # DC-only progressive scan
            ac_tab = huff[(1, sc["ac"])]
            k = max(Ss, 1)
            if Ah == 0:  # AC first pass (baseline AC is the Al=0 case)
                if eobrun > 0:
                    eobrun -= 1
                    continue
                while k <= Se:
                    sym = br.decode_symbol(ac_tab)
                    r, s = sym >> 4, sym & 0xF
                    if s == 0:
                        if r != 15:  # EOBn (baseline EOB is r=0)
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > Se:
                        raise ValueError("AC run overflows band")
                    coef[k] = _extend(br.read_bits(s), s) << Al
                    k += 1
            else:  # AC refinement pass (G.2.2)
                p1, m1 = 1 << Al, -(1 << Al)
                if eobrun == 0:
                    while k <= Se:
                        sym = br.decode_symbol(ac_tab)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.read_bits(r)
                                break
                            # ZRL: pass 16 zero-history coefficients
                        elif s == 1:
                            s = p1 if br.read_bit() else m1
                        else:
                            raise ValueError("bad AC refinement symbol")
                        while k <= Se:
                            if coef[k] != 0:
                                if br.read_bit() and not ((abs(int(coef[k])) >> Al) & 1):
                                    coef[k] += p1 if coef[k] >= 0 else m1
                            else:
                                r -= 1
                                if r < 0:
                                    break
                            k += 1
                        if s and k <= Se:
                            coef[k] = s
                        k += 1
                if eobrun > 0:
                    # refine every nonzero-history coefficient left in band
                    while k <= Se:
                        if coef[k] != 0 and br.read_bit() and not (
                            (abs(int(coef[k])) >> Al) & 1
                        ):
                            coef[k] += p1 if coef[k] >= 0 else m1
                        k += 1
                    eobrun -= 1


def decode_jpeg(payload: bytes) -> dict:
    """JPEG decoder (baseline SOF0 + progressive SOF2, restart intervals,
    8-bit, h/v sampling ≤ 2) → the same dict shape as ``decode_bmp``
    (dimensions + per-channel means) plus the full pixel array under
    ``"pixels"`` (H×W×3 uint8 RGB) for tests and feature extraction.

    Every scan decodes into per-component zigzag coefficient stores;
    dequantization + IDCT run ONCE, vectorized over all blocks, after the
    last scan — so baseline and progressive share one reconstruction
    path.  12-bit precision, arithmetic coding and hierarchical modes
    still raise ``NotImplementedError`` honestly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    width = height = None
    hmax = vmax = mcux = mcuy = None
    ri = 0
    saw_scan = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(body[p + 1 : p + 65], dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only baseline (SOF0) and progressive (SOF2) DCT supported, "
                f"got SOF{marker - 0xC0}"
            )
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * i)
                hs, vs = hv >> 4, hv & 0xF
                if hs > 2 or vs > 2:
                    raise NotImplementedError("sampling factors > 2 not supported")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                # component resolution (T.81 A.1.1) and its non-interleaved
                # block grid (A.2.2); the store is MCU-padded
                cw = (width * c["h"] + hmax - 1) // hmax
                ch = (height * c["v"] + vmax - 1) // vmax
                c["nbx"], c["nby"] = (cw + 7) // 8, (ch + 7) // 8
                c["coef"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(body[p + 17 : p + 17 + nvals])
                huff[(tc, th)] = _build_huffman_decode(bits, vals)
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — decode the scan in place
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            by_id = {c["id"]: c for c in comps}
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan.append({"comp": by_id[cs], "dc": tt >> 4, "ac": tt & 0xF})
            Ss, Se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            Ah, Al = a >> 4, a & 0xF
            br = _BitReader(payload, pos + seglen)
            _decode_scan(br, scan, huff, ri, Ss, Se, Ah, Al, mcux, mcuy)
            saw_scan = True
            pos = br.pos
            while pos < len(payload) and payload[pos] != 0xFF:
                pos += 1  # skip any stray pad bytes to the next marker
            continue
        pos += seglen
    if comps is None or not saw_scan:
        raise ValueError("missing SOF/SOS segment")

    out_planes = []
    for c in comps:
        zz = c["coef"]
        qvec = qt[c["tq"]].reshape(-1)[ZIGZAG].astype(np.float64)
        nat = np.zeros(zz.shape, dtype=np.float64)
        nat[..., ZIGZAG] = zz * qvec
        blocks = nat.reshape(zz.shape[0], zz.shape[1], 8, 8)
        # batched IDCT: C.T @ block @ C over every block at once
        px = np.einsum("ij,yxjk,kl->yxil", _C.T, blocks, _C) + 128.0
        p = px.transpose(0, 2, 1, 3).reshape(zz.shape[0] * 8, zz.shape[1] * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:height, :width])
    if len(out_planes) == 1:
        y = out_planes[0]
        rgb = np.clip(np.stack([y, y, y], axis=2), 0, 255).astype(np.uint8)
    else:
        y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)
    means = rgb.reshape(-1, 3).mean(axis=0).astype("float64")
    return {
        "kind": "image",
        "width": int(width),
        "height": int(height),
        "bpp": 24,
        "top_down": True,
        "mean_b": float(means[2]),
        "mean_g": float(means[1]),
        "mean_r": float(means[0]),
        "pixels": rgb,
    }
