"""Media fixture encoders for the decoder tests.

No imaging library is a dependency, so the tests build their own PNG,
GIF, JPEG (baseline and progressive) and TIFF-LZW inputs with these
pure-numpy encoders and round-trip them through the decoders in
``operators/multimodal.py``. Only tests import this module.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from mapreduce_stockheadlines_spark.operators.multimodal import (
    _DCT_A,
    _JPEG_ZIGZAG,
    _PNG_ADAM7,
    _PNG_SIG,
    _gif_interlace_order,
)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW encoder — the round-trip twin of
    ``_tiff_lzw_decode`` (in-repo fixtures only, like the GIF/PNG
    encoders): MSB-first packing, leading Clear, EarlyChange width bump
    at next_code == 2^w (one after the decoder's 2^w − 1), table reset
    via Clear before the decoder's 4094 ceiling."""
    out = bytearray()
    acc = nbits = 0
    width = 9

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    put(256)  # spec: streams begin with a Clear
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        w = bytes([b])
        if next_code >= 4093:
            put(256)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
    if w:
        put(table[w])
    put(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _png_pack_rows(
    sub: np.ndarray, depth: int
) -> np.ndarray:
    """(ph, pw, channels) samples → (ph, stride) byte raster: 16-bit
    big-endian pairs, 8-bit as-is, sub-byte packed MSB-first with
    zero-padded scanline tails."""
    ph, pw, ch = sub.shape
    if depth == 8:
        return sub.astype(np.uint8).reshape(ph, pw * ch)
    if depth == 16:
        b = sub.astype(np.uint16)
        return np.stack(
            [(b >> 8).astype(np.uint8), (b & 0xFF).astype(np.uint8)],
            axis=-1,
        ).reshape(ph, pw * ch * 2)
    v = sub.astype(np.uint8).reshape(ph, pw)
    bits = (
        (v[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(ph, pw * depth)
    return np.packbits(bits, axis=1)  # zero-pads the tail


def _png_filter_rows(
    rows: np.ndarray, filter_type: int, bpp: int
) -> bytes:
    """Apply one spec filter to every scanline of a byte raster (the
    encoder half of ``_png_unfilter``; mod-256, ``bpp``-byte delta)."""
    out = []
    prev = np.zeros(rows.shape[1], dtype=np.int16)
    for y in range(rows.shape[0]):
        cur = rows[y].astype(np.int16)
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:  # Sub
            enc = cur - left
        elif filter_type == 2:  # Up
            enc = cur - prev
        elif filter_type == 3:  # Average
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:  # Paeth
            ul = np.zeros_like(prev)
            ul[bpp:] = prev[:-bpp]
            p = left + prev - ul
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - ul),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = cur - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        out.append(
            bytes([filter_type]) + (enc & 0xFF).astype(np.uint8).tobytes()
        )
        prev = cur
    return b"".join(out)


def encode_png(
    px: np.ndarray,
    filter_type: int = 0,
    color_type: int = 2,
    depth: int = 8,
    palette: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """Minimal PNG encoder for tests and round-trips, covering exactly
    the decoder's matrix: color types 0/2/3/4/6, depths 1/2/4/8/16,
    optional Adam7 interlacing, every scanline under ``filter_type``
    (all five spec filters 0-4). Input is the SAMPLE array — (h, w) or
    (h, w, 1) for gray/palette (palette indices with ``palette`` as the
    (n, 3) color table; sub-byte gray in 0..2^depth-1; 16-bit as
    uint16), (h, w, channels) otherwise; a 2-D input with the default
    ``color_type=2`` replicates to RGB for backward compatibility."""
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if color_type == 3 and palette is None:
        raise ValueError("palette PNG needs the palette argument")
    a = px.astype(np.uint16 if depth == 16 else np.uint8)
    if a.ndim == 2:
        a = a[..., None]
        if color_type == 2:
            a = np.repeat(a, 3, axis=2)
    if a.shape[2] != channels:
        raise ValueError(
            f"color type {color_type} needs {channels} channels, "
            f"got {a.shape[2]}"
        )
    h, w = a.shape[:2]
    bpp = max(1, channels * depth // 8)
    if interlace:
        passes = [
            (x0, y0, dx, dy)
            for x0, y0, dx, dy in _PNG_ADAM7
            if x0 < w and y0 < h
        ]
    else:
        passes = [(0, 0, 1, 1)]
    body = b"".join(
        _png_filter_rows(
            _png_pack_rows(a[y0::dy, x0::dx], depth), filter_type, bpp
        )
        for x0, y0, dx, dy in passes
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    plte = (
        chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
        if color_type == 3
        else b""
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def _gif_lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-flavor LZW encoder (real dict growth, clear-on-full), LSB-first
    variable-width codes."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, mcs + 1
    emit(clear, width)
    run = b""
    for v in indices.tolist():
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # one-ahead of the decoder's grow-at-(1<<width) rule: the
            # encoder's table leads by exactly one entry
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # dict full: clear rather than defer (simplest legal choice)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, mcs + 1
        run = bytes([v])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(px: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder for tests/round-trips: global color table
    from the image's unique colors (≤256 required — GIF is an indexed
    format; quantization is the caller's job), real LZW compression,
    optional interlacing. Single frame, no extensions."""
    a = px.astype(np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    flat = a.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"GIF needs <= 256 colors, image has {len(palette)}")
    ct_bits = max(int(len(palette) - 1).bit_length(), 1)
    n_ct = 1 << ct_bits
    ct = np.zeros((n_ct, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    mcs = max(ct_bits, 2)
    lzw = _gif_lzw_encode(idx.reshape(-1), mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (ct_bits - 1), 0, 0)
        + ct.tobytes()
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3b"
    )


_JPEG_STD_LUMA_Q = np.array(
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
    dtype=np.float64,
)


_JPEG_STD_CHROMA_Q = np.array(
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
    dtype=np.float64,
)


def _jpeg_quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(int(quality), 1), 100)
    scale = 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality
    out = []
    for std in (_JPEG_STD_LUMA_Q, _JPEG_STD_CHROMA_Q):
        q = np.floor((std * scale + 50.0) / 100.0)
        out.append(np.clip(q, 1, 255))
    return out[0], out[1]


class _JpegBitWriter:
    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out, self.cur, self.nbits = bytearray(), 0, 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.cur, self.nbits = 0, 0

    def align(self) -> None:
        """Pad the partial byte with 1-bits (spec padding; stuffing still
        applies if the padded byte lands on 0xFF)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


# fixed-length canonical tables (see codec block comment): DC = twelve
# 4-bit codes for categories 0..11; AC = 162 8-bit codes covering EOB,
# ZRL and every (run, size) symbol
_JPEG_ENC_DC = {sym: (sym, 4) for sym in range(12)}


_JPEG_ENC_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


_JPEG_ENC_AC = {sym: (i, 8) for i, sym in enumerate(_JPEG_ENC_AC_SYMS)}


_JPEG_ENC_DC_DHT = bytes(
    [0, 0, 0, 12] + [0] * 12
) + bytes(range(12))


_JPEG_ENC_AC_DHT = bytes(
    [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8
) + bytes(_JPEG_ENC_AC_SYMS)


# progressive AC table: the sequential 162 symbols plus the fourteen
# EOBn symbols 0x10..0xE0 (EOB runs of 2..16383 blocks, T.81 G.1.2.2) —
# 176 fixed-length 8-bit codes, still canonical and legal
_JPEG_PROG_AC_SYMS = _JPEG_ENC_AC_SYMS + [r << 4 for r in range(1, 15)]


_JPEG_PROG_AC = {sym: (i, 8) for i, sym in enumerate(_JPEG_PROG_AC_SYMS)}


_JPEG_PROG_AC_DHT = bytes(
    [0, 0, 0, 0, 0, 0, 0, 176] + [0] * 8
) + bytes(_JPEG_PROG_AC_SYMS)


def encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    gray: bool = False,
    gray_declared_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Minimal baseline JFIF encoder for tests/round-trips: 4:4:4 or
    4:2:0 (2x2-mean chroma downsample), quality-scaled Annex-K quant
    tables, fixed-length Huffman tables; ``restart_interval`` > 0 emits
    DRI and RSTn markers every N MCUs (exercising the decoder's
    byte-align + predictor-reset path). ``gray=True`` emits a
    SINGLE-component (luma-only) frame — per T.81 A.2.2 its scan is
    non-interleaved plain 8x8 block order regardless of the SOF
    sampling factors, so ``gray_declared_sampling`` may legally declare
    h/v > 1 (exercising the decoder's nc==1 sampling-ignore path)."""
    a = px.astype(np.float64)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if subsample == "444":
        sampling, chroma_ds = (1, 1), 1
    elif subsample == "420":
        sampling, chroma_ds = (2, 2), 2
    else:
        raise ValueError("subsample must be '444' or '420'")
    hs, vs = sampling
    qy, qc = _jpeg_quality_tables(quality)
    qy_zz = qy.reshape(-1)[_JPEG_ZIGZAG]
    qc_zz = qc.reshape(-1)[_JPEG_ZIGZAG]

    def pad_to(img: np.ndarray, mult: int) -> np.ndarray:
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img, ((0, ph - img.shape[0]), (0, pw - img.shape[1])), mode="edge"
        )

    yp = pad_to(y, 8 * vs)
    if chroma_ds > 1:
        # 2x2 mean downsample (pad odd dims first)
        cpad = pad_to(cb, 2), pad_to(cr, 2)
        cb = cpad[0].reshape(
            cpad[0].shape[0] // 2, 2, cpad[0].shape[1] // 2, 2
        ).mean(axis=(1, 3))
        cr = cpad[1].reshape(
            cpad[1].shape[0] // 2, 2, cpad[1].shape[1] // 2, 2
        ).mean(axis=(1, 3))
    cbp, crp = pad_to(cb, 8), pad_to(cr, 8)
    mcuy = yp.shape[0] // (8 * vs)
    mcux = yp.shape[1] // (8 * hs)

    writer = _JpegBitWriter()
    preds = [0, 0, 0]

    def emit_block(block: np.ndarray, q_zz: np.ndarray, ci: int) -> None:
        coef = _DCT_A @ (block - 128.0) @ _DCT_A.T
        zzc = np.round(coef.reshape(-1)[_JPEG_ZIGZAG] / q_zz).astype(
            np.int64
        )
        diff = int(zzc[0]) - preds[ci]
        preds[ci] = int(zzc[0])
        mag = abs(diff)
        ssss = mag.bit_length()
        code, nbits = _JPEG_ENC_DC[ssss]
        writer.write(code, nbits)
        if ssss:
            writer.write(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
        run = 0
        nz = np.nonzero(zzc[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zzc[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, nbits = _JPEG_ENC_AC[0xF0]
                writer.write(code, nbits)
                run -= 16
            sz = abs(v).bit_length()
            code, nbits = _JPEG_ENC_AC[(run << 4) | sz]
            writer.write(code, nbits)
            writer.write(v if v > 0 else v + (1 << sz) - 1, sz)
            run = 0
        if last < 63:
            code, nbits = _JPEG_ENC_AC[0x00]
            writer.write(code, nbits)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"

    if gray:
        gyp = pad_to(y, 8)
        n_mcu, rst_idx = 0, 0
        for by in range(gyp.shape[0] // 8):
            for bx in range(gyp.shape[1] // 8):
                if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                    writer.align()
                    writer.out += bytes([0xFF, 0xD0 + rst_idx])
                    rst_idx = (rst_idx + 1) & 7
                    preds[:] = [0, 0, 0]
                n_mcu += 1
                emit_block(gyp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                           qy_zz, 0)
        gh, gv = gray_declared_sampling
        gdri = (
            seg(0xDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        return (
            b"\xff\xd8"
            + seg(0xE0, app0)
            + seg(0xDB, b"\x00" + qy_zz.astype(np.uint8).tobytes())
            + seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, (gh << 4) | gv, 0]))
            + seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
            + seg(0xC4, b"\x10" + _JPEG_ENC_AC_DHT)
            + gdri
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + writer.flush()
            + b"\xff\xd9"
        )

    n_mcu, rst_idx = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.align()
                writer.out += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) & 7
                preds[:] = [0, 0, 0]
            n_mcu += 1
            for by in range(vs):
                for bx in range(hs):
                    y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    emit_block(yp[y0 : y0 + 8, x0 : x0 + 8], qy_zz, 0)
            y0, x0 = my * 8, mx * 8
            emit_block(cbp[y0 : y0 + 8, x0 : x0 + 8], qc_zz, 1)
            emit_block(crp[y0 : y0 + 8, x0 : x0 + 8], qc_zz, 2)
    data = writer.flush()

    dqt = seg(
        0xDB,
        b"\x00" + qy_zz.astype(np.uint8).tobytes()
        + b"\x01" + qc_zz.astype(np.uint8).tobytes(),
    )
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = (
        seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x10" + _JPEG_ENC_AC_DHT)
        + seg(0xC4, b"\x01" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x11" + _JPEG_ENC_AC_DHT)
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8" + seg(0xE0, app0) + dqt + sof + dht + dri + sos + data
        + b"\xff\xd9"
    )


def encode_jpeg_progressive(
    px: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    gray: bool = False,
) -> bytes:
    """Progressive (SOF2) JFIF encoder for tests/round-trips, following
    T.81 annex G / the libjpeg reference encoder: a libjpeg-style scan
    script with spectral selection AND two-level successive
    approximation (DC first at Al=1 + refinement; luma AC split 1-5 /
    6-63 first-coded at a high bit position then refined to Al=0), so
    every decoder path — EOB runs, ZRL-with-correction-bits, buffered
    refinement bits, newly-significant coefficients — is exercised.
    The script fully restores every coefficient bit, so the progressive
    stream decodes to EXACTLY the same pixels as ``encode_jpeg`` of
    the same image at the same quality/subsampling (the cross-path pin
    the property tests assert). ``restart_interval`` > 0 emits RSTn
    every N MCUs (DC interleaved scans) / blocks (other scans)."""
    a = px.astype(np.float64)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    qy, qc = _jpeg_quality_tables(quality)
    qy_zz = qy.reshape(-1)[_JPEG_ZIGZAG]
    qc_zz = qc.reshape(-1)[_JPEG_ZIGZAG]

    def pad_to(img: np.ndarray, mult: int) -> np.ndarray:
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img, ((0, ph - img.shape[0]), (0, pw - img.shape[1])),
            mode="edge",
        )

    def block_coefs(plane: np.ndarray, q_zz: np.ndarray) -> np.ndarray:
        # per-block loop with exactly encode_jpeg's arithmetic, so the
        # quantized coefficients are bit-identical to the baseline path
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        out = np.zeros((bh, bw, 64), np.int32)
        for by in range(bh):
            for bx in range(bw):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                cf = _DCT_A @ (blk - 128.0) @ _DCT_A.T
                out[by, bx] = np.round(
                    cf.reshape(-1)[_JPEG_ZIGZAG] / q_zz
                ).astype(np.int32)
        return out

    r_, g_, b_ = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    if gray:
        hs = vs = 1
        coefs = [block_coefs(pad_to(y, 8), qy_zz)]
        dims = [coefs[0].shape[1::-1]]  # (bw, bh) real == padded
        mcuy, mcux = coefs[0].shape[:2]
        samplings = [(1, 1)]
    else:
        cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
        if subsample == "444":
            hs = vs = 1
        elif subsample == "420":
            hs = vs = 2
            cpad = pad_to(cb, 2), pad_to(cr, 2)
            cb = cpad[0].reshape(
                cpad[0].shape[0] // 2, 2, cpad[0].shape[1] // 2, 2
            ).mean(axis=(1, 3))
            cr = cpad[1].reshape(
                cpad[1].shape[0] // 2, 2, cpad[1].shape[1] // 2, 2
            ).mean(axis=(1, 3))
        else:
            raise ValueError("subsample must be '444' or '420'")
        coefs = [
            block_coefs(pad_to(y, 8 * vs), qy_zz),
            block_coefs(pad_to(cb, 8), qc_zz),
            block_coefs(pad_to(cr, 8), qc_zz),
        ]
        mcuy = coefs[0].shape[0] // vs
        mcux = coefs[0].shape[1] // hs
        # REAL block dims: luma ceil(h/8) x ceil(w/8) (may be less than
        # the MCU-padded grid at 4:2:0); chroma real == padded
        dims = [
            (-(-w // 8), -(-h // 8)),
            coefs[1].shape[1::-1],
            coefs[2].shape[1::-1],
        ]
        samplings = [(hs, vs), (1, 1), (1, 1)]
    ncomp = len(coefs)

    def emit_restart(writer: "_JpegBitWriter", rst_idx: int) -> int:
        writer.align()
        writer.out += bytes([0xFF, 0xD0 + rst_idx])
        return (rst_idx + 1) & 7

    def enc_dc(writer: "_JpegBitWriter", ah: int, al: int) -> None:
        preds = [0] * ncomp

        def emit(ci: int, by: int, bx: int) -> None:
            c = int(coefs[ci][by, bx, 0])
            if ah == 0:
                v = c >> al  # DC point transform: arithmetic shift
                diff = v - preds[ci]
                preds[ci] = v
                ssss = abs(diff).bit_length()
                code, nb = _JPEG_ENC_DC[ssss]
                writer.write(code, nb)
                if ssss:
                    writer.write(
                        diff if diff > 0 else diff + (1 << ssss) - 1, ssss
                    )
            else:
                writer.write((c >> al) & 1, 1)

        nunit, rst_idx = 0, 0
        if ncomp == 1:
            bw, bh = dims[0]
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and nunit and (
                        nunit % restart_interval == 0
                    ):
                        rst_idx = emit_restart(writer, rst_idx)
                        preds[:] = [0] * ncomp
                    nunit += 1
                    emit(0, by, bx)
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and nunit and (
                        nunit % restart_interval == 0
                    ):
                        rst_idx = emit_restart(writer, rst_idx)
                        preds[:] = [0] * ncomp
                    nunit += 1
                    for ci, (chs, cvs) in enumerate(samplings):
                        for byy in range(cvs):
                            for bxx in range(chs):
                                emit(ci, my * cvs + byy, mx * chs + bxx)

    def enc_ac_first(
        writer: "_JpegBitWriter", ci: int, ss: int, se: int, al: int
    ) -> None:
        coef = coefs[ci]
        bw, bh = dims[ci]
        eobrun = 0

        def flush_eobrun() -> None:
            nonlocal eobrun
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, nb = _JPEG_PROG_AC[nbits << 4]
                writer.write(code, nb)
                if nbits:
                    writer.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0

        nunit, rst_idx = 0, 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and nunit and (
                    nunit % restart_interval == 0
                ):
                    flush_eobrun()
                    rst_idx = emit_restart(writer, rst_idx)
                nunit += 1
                row = coef[by, bx]
                r = 0
                for k in range(ss, se + 1):
                    t = int(row[k])
                    temp = (-t if t < 0 else t) >> al
                    if temp == 0:
                        r += 1
                        continue
                    flush_eobrun()
                    while r > 15:
                        code, nb = _JPEG_PROG_AC[0xF0]
                        writer.write(code, nb)
                        r -= 16
                    nbits = temp.bit_length()
                    code, nb = _JPEG_PROG_AC[(r << 4) | nbits]
                    writer.write(code, nb)
                    writer.write(
                        temp if t > 0 else (~temp) & ((1 << nbits) - 1),
                        nbits,
                    )
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eobrun()
        flush_eobrun()

    def enc_ac_refine(
        writer: "_JpegBitWriter", ci: int, ss: int, se: int, al: int
    ) -> None:
        coef = coefs[ci]
        bw, bh = dims[ci]
        eobrun = 0
        pending: list[int] = []  # correction bits deferred to the EOBn

        def flush_eobrun() -> None:
            nonlocal eobrun, pending
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, nb = _JPEG_PROG_AC[nbits << 4]
                writer.write(code, nb)
                if nbits:
                    writer.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0
            for bit in pending:
                writer.write(bit, 1)
            pending = []

        nunit, rst_idx = 0, 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and nunit and (
                    nunit % restart_interval == 0
                ):
                    flush_eobrun()
                    rst_idx = emit_restart(writer, rst_idx)
                nunit += 1
                row = coef[by, bx]
                absv = [
                    (-int(row[k]) if row[k] < 0 else int(row[k])) >> al
                    for k in range(ss, se + 1)
                ]
                eob_k = ss - 1  # last NEWLY-significant position
                for i, v in enumerate(absv):
                    if v == 1:
                        eob_k = ss + i
                r = 0
                br: list[int] = []  # block-local correction bits
                for k in range(ss, se + 1):
                    temp = absv[k - ss]
                    if temp == 0:
                        r += 1
                        continue
                    # ZRLs not foldable into the EOB run flush eagerly,
                    # each carrying the correction bits buffered so far
                    while r > 15 and k <= eob_k:
                        flush_eobrun()
                        code, nb = _JPEG_PROG_AC[0xF0]
                        writer.write(code, nb)
                        r -= 16
                        for bit in br:
                            writer.write(bit, 1)
                        br = []
                    if temp > 1:  # already nonzero: buffer correction bit
                        br.append(temp & 1)
                        continue
                    flush_eobrun()
                    code, nb = _JPEG_PROG_AC[(r << 4) | 1]
                    writer.write(code, nb)
                    writer.write(1 if int(row[k]) > 0 else 0, 1)
                    for bit in br:
                        writer.write(bit, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    pending.extend(br)
                    if eobrun == 0x7FFF or len(pending) > 900:
                        flush_eobrun()
        flush_eobrun()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    # libjpeg-style script: DC first at Al=1 (interleaved) + refinement,
    # per-component AC bands with successive approximation down to Al=0
    if gray:
        script = [
            ("dc", None, 0, 0, 0, 1),
            ("ac", 0, 1, 5, 0, 2),
            ("ac", 0, 6, 63, 0, 1),
            ("dc", None, 0, 0, 1, 0),
            ("ac", 0, 1, 5, 2, 1),
            ("ac", 0, 6, 63, 1, 0),
            ("ac", 0, 1, 5, 1, 0),
        ]
    else:
        script = [
            ("dc", None, 0, 0, 0, 1),
            ("ac", 0, 1, 5, 0, 2),
            ("ac", 2, 1, 63, 0, 1),
            ("ac", 1, 1, 63, 0, 1),
            ("ac", 0, 6, 63, 0, 2),
            ("ac", 0, 1, 63, 2, 1),
            ("dc", None, 0, 0, 1, 0),
            ("ac", 2, 1, 63, 1, 0),
            ("ac", 1, 1, 63, 1, 0),
            ("ac", 0, 1, 63, 1, 0),
        ]

    body = b""
    for kind, ci, ss, se, ah, al in script:
        writer = _JpegBitWriter()
        if kind == "dc":
            comp_spec = b"".join(
                bytes([c + 1, 0x00]) for c in range(ncomp)
            )
            payload = bytes([ncomp]) + comp_spec + bytes(
                [ss, se, (ah << 4) | al]
            )
            enc_dc(writer, ah, al)
        else:
            payload = bytes([1, ci + 1, 0x00, ss, se, (ah << 4) | al])
            if ah == 0:
                enc_ac_first(writer, ci, ss, se, al)
            else:
                enc_ac_refine(writer, ci, ss, se, al)
        body += seg(0xDA, payload) + writer.flush()

    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    if gray:
        dqt = seg(0xDB, b"\x00" + qy_zz.astype(np.uint8).tobytes())
        sof = seg(
            0xC2,
            struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]),
        )
    else:
        dqt = seg(
            0xDB,
            b"\x00" + qy_zz.astype(np.uint8).tobytes()
            + b"\x01" + qc_zz.astype(np.uint8).tobytes(),
        )
        sof = seg(
            0xC2,
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
    dht = (
        seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x10" + _JPEG_PROG_AC_DHT)
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + seg(0xE0, app0) + dqt + sof + dht + dri + body + b"\xff\xd9"
