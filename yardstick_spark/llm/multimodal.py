"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed via Arrow-batched `mapInPandas`.

Two decode paths share the identical Arrow plumbing:

- `fake=True`: a deterministic byte-level featureizer — the stand-in
  for container formats this environment has no libraries for
  (JPEG/MP3/MP4 need pillow/librosa/av).
- `fake=False`: REAL decoders, pure numpy/stdlib, for formats whose
  containers are simple enough to parse by hand: binary PPM (P6)
  images and 16-bit PCM WAV (RIFF) audio.  Header parse, payload
  extraction and normalization are genuine; `synth_media` builds
  round-trippable payloads from the documents fixture so the whole
  write->decode->featurize path is oracle-checked end to end.

At 100 TB the shape matters: mapInPandas streams Arrow record batches
per partition (bounded memory via spark.sql.execution.arrow
.maxRecordsPerBatch), decode is embarrassingly parallel, and the
metadata struct column lets downstream filters prune without touching
the binary payload (Parquet column pruning).
"""

from __future__ import annotations

from collections.abc import Iterator
from struct import error as struct_error

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import cache
from .dedup import _spread_by_bytes
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),   # image | audio | video
    StructField("payload", BinaryType()),
    StructField("meta_format", StringType()),
    StructField("meta_width", IntegerType()),
    StructField("meta_height", IntegerType()),
    StructField("meta_duration_ms", IntegerType()),
])

DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("features", ArrayType(DoubleType())),
])


def _chunk_means(flat, lengths, n: int):
    """Batched np.array_split-compatible chunk means.

    `flat` is the concatenation of every row's values, `lengths` the
    per-row element counts; returns an (R, n) float64 array where row i
    holds the means of np.array_split(row_i, n) (empty chunks -> 0.0).
    One np.add.reduceat over the stacked values replaces the per-row
    split/mean loop (the round-3 vectorization of the decode path)."""
    import numpy as np

    lengths = np.asarray(lengths, dtype=np.int64)
    rows = lengths.size
    if rows == 0:
        return np.zeros((0, n))
    offs = np.zeros(rows, dtype=np.int64)
    if rows > 1:
        np.cumsum(lengths[:-1], out=offs[1:])
    base, rem = lengths // n, lengths % n
    j = np.arange(n, dtype=np.int64)
    # np.array_split: first (L % n) chunks get L//n + 1 elements
    starts = offs[:, None] + j[None, :] * base[:, None] \
        + np.minimum(j[None, :], rem[:, None])
    sizes = base[:, None] + (j[None, :] < rem[:, None])
    idx = starts.ravel()
    if flat.size == 0:
        return np.zeros((rows, n))
    # reduceat over NON-EMPTY segments only: dropping empty segments
    # makes consecutive non-empty starts contiguous, so each reduceat
    # slice is exactly that segment (clamping empty trailing indices
    # instead was measured to truncate the preceding segment by one
    # element — wrong means for the row before an empty payload)
    sizes_f = sizes.ravel().astype(np.float64)
    nz = sizes_f > 0
    sums = np.zeros(idx.size)
    if nz.any():
        sums[nz] = np.add.reduceat(flat, idx[nz])
    means = np.divide(sums, sizes_f, out=np.zeros_like(sizes_f),
                      where=sizes_f > 0)
    return means.reshape(rows, n)


def attach_media_column(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: the text bytes act
    as the opaque binary payload (deterministic stand-in for image
    bytes), with plausible typed metadata derived from content length."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.expr(f"element_at(array('image','audio','video'), "
               f"CAST({id_col} % 3 + 1 AS INT))").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("raw").alias("meta_format"),
        F.expr(f"CAST(length({text_col}) % 640 + 1 AS INT)").alias("meta_width"),
        F.expr(f"CAST(length({text_col}) % 480 + 1 AS INT)").alias("meta_height"),
        F.expr(f"CAST(length({text_col}) * 10 AS INT)").alias("meta_duration_ms"),
    )


REAL_DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # ppm | wav
    StructField("width", IntegerType()),        # images only
    StructField("height", IntegerType()),
    StructField("n_samples", LongType()),       # pixels*3 or pcm samples
    StructField("mean_val", DoubleType()),      # mean normalized sample
    StructField("features", ArrayType(DoubleType())),
])


def write_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6): 'P6\\n<w> <h>\\n255\\n' + raw RGB triplets."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb payload must be width*height*3 bytes")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def parse_ppm(payload: bytes):
    """-> (width, height, uint8 ndarray of RGB samples).  Supports the
    common single-whitespace P6 layout (no comment lines)."""
    import re as _re

    import numpy as np

    m = _re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a binary PPM (P6) payload")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                        offset=m.end())
    return w, h, arr


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def write_png(width: int, height: int, pixels: bytes,
              channels: int = 3, filters=None) -> bytes:
    """PNG encoder in pure numpy + stdlib zlib: 8-bit grayscale / RGB
    / RGBA, no interlace, one IDAT chunk.  `filters` selects the
    per-scanline filter type (int for all rows, or a per-row list) —
    all five standard filters (None/Sub/Up/Average/Paeth, PNG spec
    §4.5.4) are implemented so fixtures can exercise the decoder's
    whole unfilter matrix; decoded pixels are filter-invariant.

    The encoder vectorizes every filter (unlike decoding, filtering
    reads only already-known RECONSTRUCTED neighbors, so Paeth's
    predictor is a plain elementwise where())."""
    import struct
    import zlib

    import numpy as np

    if len(pixels) != width * height * channels:
        raise ValueError("pixels must be width*height*channels bytes")
    try:
        color = {1: 0, 3: 2, 4: 6}[channels]
    except KeyError:
        raise ValueError("channels must be 1 (gray), 3 (RGB) or "
                         "4 (RGBA)") from None
    stride = width * channels
    arr = np.frombuffer(pixels, np.uint8).reshape(height, stride) \
        .astype(np.int16)
    if filters is None:
        filters = [0] * height
    elif isinstance(filters, int):
        filters = [filters] * height
    bpp = channels
    out = bytearray()
    prev = np.zeros(stride, np.int16)
    zero = np.zeros(bpp, np.int16)
    for y in range(height):
        row = arr[y]
        f = int(filters[y]) % 5
        left = np.concatenate([zero, row[:-bpp]]) if stride > bpp \
            else np.zeros(stride, np.int16)
        ul = np.concatenate([zero, prev[:-bpp]]) if stride > bpp \
            else np.zeros(stride, np.int16)
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            filt = row - pred
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
        prev = row
    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def parse_png(payload: bytes):
    """-> (width, height, channels, uint8 ndarray of samples, row-
    major, channel-interleaved).  Pure numpy + stdlib zlib: walks the
    chunk stream, inflates the concatenated IDATs, and reverses the
    per-scanline filters (PNG spec §4.5.4).  Supports 8-bit grayscale
    (color 0) / RGB (2) / RGBA (6), non-interlaced; palette, 16-bit
    and Adam7 payloads raise ValueError (reference parity: the
    reference ships library-backed decoders; this repo implements the
    container publicly documented enough to decode by hand, see
    LIMITATIONS §5).

    Unfiltering is sequential by definition (each byte's predictor
    reads reconstructed neighbors), but three of five filters still
    vectorize per row: None and Up are elementwise, Sub is a
    per-channel cumsum mod 256; only Average and Paeth walk the row."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    off = 8
    idat = bytearray()
    w = h = channels = None
    while off + 8 <= len(payload):
        ln, typ = struct.unpack(">I4s", payload[off:off + 8])
        data = payload[off + 8:off + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if depth != 8:
                raise ValueError("only 8-bit PNG supported")
            if color not in (0, 2, 6):
                raise ValueError(
                    "only grayscale/RGB/RGBA PNG supported (no palette)")
            if interlace:
                raise ValueError("interlaced (Adam7) PNG not supported")
            channels = {0: 1, 2: 3, 6: 4}[color]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        off += 12 + ln
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = w * channels
    if raw.size != h * (stride + 1):
        raise ValueError("scanline data does not match dimensions")
    raw = raw.reshape(h, stride + 1)
    ftypes = raw[:, 0]
    rows = raw[:, 1:].astype(np.int16)
    bpp = channels
    recon = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int16)
    for y in range(h):
        f, row = int(ftypes[y]), rows[y]
        if f == 0:
            cur = row
        elif f == 1:  # Sub: per-channel cumsum mod 256
            cur = (np.cumsum(row.reshape(-1, bpp), axis=0,
                             dtype=np.int64) % 256).reshape(stride) \
                .astype(np.int16)
        elif f == 2:  # Up
            cur = (row + prev) % 256
        elif f == 3:  # Average
            cur = np.empty(stride, np.int16)
            cur[:bpp] = (row[:bpp] + prev[:bpp] // 2) % 256
            for x in range(bpp, stride):
                cur[x] = (row[x] + (cur[x - bpp] + prev[x]) // 2) % 256
        elif f == 4:  # Paeth
            cur = np.empty(stride, np.int16)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) \
                    else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) % 256
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        recon[y] = cur.astype(np.uint8)
        prev = cur.astype(np.int16)
    return w, h, channels, recon.reshape(-1)


# --------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT, JFIF container) in pure
# numpy + stdlib — grayscale, 8-bit, no subsampling.  The encoder
# emits its OWN canonical Huffman tables in DHT (fixed-length canonical
# codes: 12 DC size symbols at 4 bits, the standard 162-symbol AC
# alphabet at 8 bits) and a flat quantization table in DQT, so neither
# side depends on hand-transcribed spec constants; the zigzag order is
# generated by the diagonal walk, reproducing the standard table.
# Block-constant images make the whole lossy path ANALYTIC: a constant
# 8x8 block has only a DC coefficient, so the decoded value is
# round(8*(v-128)/Q00)*Q00/8 + 128 on the deterministic rounding grid
# — the closed form the mm_decode_jpeg oracle computes in SQL.
# --------------------------------------------------------------------------

_JPEG_Q00 = 16  # flat luminance quant table: every entry _JPEG_Q00


def _jpeg_zigzag():
    """Standard 8x8 zigzag order via the diagonal walk (no table):
    odd diagonals run top-right -> bottom-left, even ones the
    reverse — reproducing T.81 Figure 5 exactly (head pinned in
    tests: 0, 1, 8, 16, 9, 2, ...)."""
    order = []
    for d in range(15):
        rng = range(d + 1) if d < 8 else range(d - 7, 8)
        diag = [(d - j, j) for j in rng]  # high row -> low row
        order.extend(diag[::-1] if d % 2 == 1 else diag)
    return [r * 8 + c for (r, c) in order]


def _jpeg_tables():
    """(dc_bits, dc_vals, ac_bits, ac_vals, dc_codes, ac_codes):
    canonical Huffman tables — DC sizes 0..11 at 4 bits, the 162
    standard AC symbols (EOB, ZRL, (run<<4)|size for run 0..15, size
    1..10) at 8 bits.  Canonical assignment means decode rebuilds the
    identical codes from the DHT (BITS, HUFFVAL) segment."""
    dc_vals = list(range(12))
    dc_bits = [0] * 16
    dc_bits[3] = 12  # BITS index 4 (1-based) = twelve 4-bit codes
    ac_vals = sorted([0x00, 0xF0] + [(r << 4) | s
                                     for r in range(16)
                                     for s in range(1, 11)])
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)  # all at 8 bits (162 <= 255, no all-1s)
    def canonical(bits, vals):
        codes, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[vals[k]] = (ln, code)
                code += 1
                k += 1
            code <<= 1
        return codes
    return (dc_bits, dc_vals, ac_bits, ac_vals,
            canonical(dc_bits, dc_vals), canonical(ac_bits, ac_vals))


def _jpeg_dct_mat():
    import numpy as np

    x = np.arange(8)
    u = x[:, None]
    m = 0.5 * np.cos((2 * x[None, :] + 1) * u * np.pi / 16)
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m


def _half_away(a):
    """Elementwise round-half-away-from-zero (np.round is banker's —
    ties would diverge from both engines' ROUND)."""
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) + 0.5)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, bits: int, length: int) -> None:
        self.acc = (self.acc << length) | (bits & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)


def _rgb_to_ycbcr(img):
    """JFIF RGB -> YCbCr on the two-stage rounding grid (6-dp
    pre-round, half-away, clamp) — the order the SQL oracle mirrors."""
    import numpy as np

    r, g, b = (img[..., 0], img[..., 1], img[..., 2])
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return [np.clip(_half_away(np.round(c, 6)), 0.0, 255.0)
            for c in (y, cb, cr)]


def _ycbcr_to_rgb(y, cb, cr):
    """JFIF YCbCr -> RGB, same rounding grid as `_rgb_to_ycbcr`."""
    import numpy as np

    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return [np.clip(_half_away(np.round(c, 6)), 0.0, 255.0)
            for c in (r, g, b)]


def _jpeg_encode_block(bw, blk, pred, zz, m, dc_codes, ac_codes):
    """Forward-DCT + quantize + entropy-code one 8x8 level-shifted
    block; returns the new DC predictor.  6-dp pre-round before
    quantization: matmul noise at an exact quantization tie (e.g.
    1016/16 = 63.5) must not flip the half-away round — the same
    two-stage grid as the decoder and the determinism contract."""
    import numpy as np

    coef = _half_away(np.round(m @ blk @ m.T, 6) / _JPEG_Q00) \
        .astype(np.int64)
    seq = coef.reshape(-1)[zz]
    nz = np.flatnonzero(seq[1:])
    last = int(nz[-1]) + 1 if nz.size else 0
    vals = seq.tolist()  # python ints once, not a numpy scalar per op
    diff = vals[0] - pred
    size = abs(diff).bit_length()
    ln, code = dc_codes[size]
    if size:
        # code immediately followed by the value bits is one MSB-first
        # put — bitstream-identical to two puts, half the calls
        bw.put((code << size)
               | (diff if diff > 0 else diff + (1 << size) - 1),
               ln + size)
    else:
        bw.put(code, ln)
    run = 0
    for i in range(1, last + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            ln, code = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        ln, code = ac_codes[(run << 4) | s]
        bw.put((code << s) | (v if v > 0 else v + (1 << s) - 1),
               ln + s)
        run = 0
    if last < 63:
        ln, code = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return vals[0]


def write_jpeg(width: int, height: int, pixels: bytes,
               channels: int = 1) -> bytes:
    """Baseline sequential JFIF encoder (8-bit, flat quant table,
    self-emitted canonical Huffman tables).  `channels=1`: grayscale;
    `channels=3`: interleaved RGB, converted to YCbCr and coded 4:4:4
    (one Y + Cb + Cr block per MCU, per-component DC predictors, all
    components sharing the emitted tables — legal, since DHT/DQT are
    ours).  Edge-replicates to 8x8 block multiples; SOF0 carries the
    true dimensions."""
    import struct

    import numpy as np

    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if len(pixels) != width * height * channels:
        raise ValueError("pixels must be width*height*channels bytes")
    img = np.frombuffer(pixels, np.uint8) \
        .reshape(height, width, channels).astype(np.float64)
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(img, ((0, ph - height), (0, pw - width), (0, 0)),
                 mode="edge")
    planes = ([img[..., 0]] if channels == 1
              else _rgb_to_ycbcr(img))
    zz = _jpeg_zigzag()
    m = _jpeg_dct_mat()
    (dc_bits, dc_vals, ac_bits, ac_vals, dc_codes,
     ac_codes) = _jpeg_tables()
    bw = _BitWriter()
    preds = [0] * channels
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for c, plane in enumerate(planes):
                preds[c] = _jpeg_encode_block(
                    bw, plane[by:by + 8, bx:bx + 8] - 128.0,
                    preds[c], zz, m, dc_codes, ac_codes)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt = bytes([_JPEG_Q00] * 64)
    ncomp = channels
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0])  # 1x1 sampling, qtable 0
        sos += bytes([cid, 0x00])     # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qt)  # DQT: 8-bit, table 0
    out += seg(0xFFC0, sof)
    out += seg(0xFFC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    out += seg(0xFFDA, sos)
    return out + scan + b"\xff\xd9"  # EOI


_HUFF_LUT_CACHE: dict = {}


def _huff_lut(codes: dict) -> list:
    """Flat 2^16 peek table for a canonical Huffman table: the entry at
    any 16-bit window whose prefix is code c of length L holds
    (sym<<5)|L; -1 marks invalid prefixes.  One Python list lookup PER
    SYMBOL at decode time instead of a dict probe per BIT (the entropy
    decode was 81% of parse_jpeg under cProfile, dominated by per-bit
    calls).  Cached by table content: write_jpeg emits one canonical
    DHT, so all payloads in an Arrow batch share a single build."""
    key = tuple(sorted(codes.items()))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is None:
        lut = [-1] * 65536
        for (ln, code), sym in codes.items():
            start = code << (16 - ln)
            lut[start:start + (1 << (16 - ln))] = \
                [(sym << 5) | ln] * (1 << (16 - ln))
        if len(_HUFF_LUT_CACHE) > 64:  # foreign tables can't pile up
            _HUFF_LUT_CACHE.clear()
        _HUFF_LUT_CACHE[key] = lut
    return lut


class _BitReader:
    """Entropy-scan reader over a pre-unstuffed bitstream with 16-bit
    sliding windows precomputed (numpy) into plain Python ints.  Same
    observable contract as the per-bit walk it replaces: FF00 unstuffs
    to FF, FFD9 ends the scan data, any other FF-marker pair mid-scan
    raises (restart markers are outside the baseline scope — fail
    loudly like the other unsupported-feature paths instead of
    decoding the marker byte as data), and reading past the end raises
    truncated."""

    def __init__(self, data: bytes):
        import numpy as np

        arr = np.frombuffer(data, dtype=np.uint8)
        eoi = len(arr)
        drop = []
        for j in np.flatnonzero(arr == 0xFF).tolist():
            if j + 1 >= len(arr):
                eoi = min(eoi, j)  # trailing FF with no pair byte
                break
            nxt = arr[j + 1]
            if nxt == 0x00:
                drop.append(j + 1)
            elif nxt == 0xD9:
                eoi = j  # EOI: scan data ends here
                break
            else:
                raise ValueError(
                    "JPEG restart/embedded markers unsupported")
        arr = arr[:eoi]
        if drop:
            arr = np.delete(arr, [d for d in drop if d < eoi])
        bits = np.unpackbits(arr)
        self.nbits = int(bits.size)
        pad = np.concatenate(
            [bits.astype(np.uint32), np.zeros(16, np.uint32)])
        win = np.zeros(self.nbits + 1, dtype=np.uint32)
        for i in range(16):
            win += pad[i:i + self.nbits + 1] << np.uint32(15 - i)
        self.win = win.tolist()  # list indexing beats numpy scalars
        self.pos = 0

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        v = self.win[self.pos] >> (16 - k)
        self.pos += k
        if self.pos > self.nbits:
            raise ValueError("JPEG scan data truncated")
        return v

    def huff(self, lut: list) -> int:
        v = lut[self.win[self.pos]]
        if v < 0:
            raise ValueError("invalid JPEG Huffman code")
        self.pos += v & 31
        if self.pos > self.nbits:
            raise ValueError("JPEG scan data truncated")
        return v >> 5


def parse_jpeg(payload: bytes):
    """-> (width, height, channels, uint8 ndarray — interleaved RGB
    when channels=3) for a baseline sequential JFIF JPEG: marker walk,
    canonical-Huffman scan decode with per-component DC prediction,
    dequantize, IDCT, level shift, YCbCr -> RGB for 3-component
    images, crop.  Rejects progressive (SOF2), arithmetic coding and
    subsampling (non-1x1) — the baseline-decoder scope LIMITATIONS §5
    documents.

    Rounding is the two-stage deterministic grid from the determinism
    contract: IDCT output rounds to 6 dp (killing matmul float noise)
    before the final half-away integer round, so DC-only blocks decode
    to the exact closed form round(8(v-128)/Q00)*Q00/8 + 128 the SQL
    oracle computes."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qt = {}
    huff = {}
    w = h = None
    comp_q = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        if pos + 2 + ln > len(payload):
            raise ValueError("JPEG segment truncated")
        body = payload[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables per seg)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.array(list(body[o + 1:o + 65]),
                                  dtype=np.float64)
                o += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline sequential JPEG (SOF0) supported")
        elif marker == 0xDD:  # DRI — restart intervals out of scope
            raise ValueError("JPEG restart markers (DRI) unsupported")
        elif marker == 0xC0:  # SOF0
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if ncomp not in (1, 3):
                raise ValueError(
                    "only 1- (gray) or 3-component (YCbCr) JPEG "
                    "supported")
            comp_q = []
            for c in range(ncomp):
                if body[7 + 3 * c] != 0x11:
                    raise ValueError("subsampled JPEG unsupported")
                comp_q.append(body[8 + 3 * c])
        elif marker == 0xC4:  # DHT (possibly several tables per seg)
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1:o + 17])
                nv = sum(bits)
                vals = list(body[o + 17:o + 17 + nv])
                codes, code, k = {}, 0, 0
                for bl in range(1, 17):
                    for _ in range(bits[bl - 1]):
                        codes[(bl, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = codes
                o += 17 + nv
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != len(comp_q or []):
                raise ValueError("scan/SOF0 component count mismatch")
            comp_t = [(body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0xF)
                      for c in range(ns)]
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if w is None or scan_start is None:
        raise ValueError("missing SOF0/SOS segment")
    ncomp = len(comp_q)
    for c in range(ncomp):
        if comp_q[c] not in qt or (0, comp_t[c][0]) not in huff \
                or (1, comp_t[c][1]) not in huff:
            raise ValueError("missing DQT/DHT tables")
    zz = _jpeg_zigzag()
    m = _jpeg_dct_mat()
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [np.empty((ph, pw), dtype=np.float64)
              for _ in range(ncomp)]
    br = _BitReader(payload[scan_start:])
    preds = [0] * ncomp
    comp_qt = [qt[comp_q[c]] for c in range(ncomp)]
    dc_luts = [_huff_lut(huff[(0, comp_t[c][0])]) for c in range(ncomp)]
    ac_luts = [_huff_lut(huff[(1, comp_t[c][1])]) for c in range(ncomp)]
    # hot loop: the reader's window/cursor are inlined as locals (the
    # method-call version spent ~1/3 of decode in call overhead); a
    # cursor past the padded window end surfaces as IndexError below
    win, pos = br.win, 0
    try:
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                for c in range(ncomp):
                    q = comp_qt[c]
                    ac_lut = ac_luts[c]
                    v = dc_luts[c][win[pos]]
                    if v < 0:
                        raise ValueError("invalid JPEG Huffman code")
                    pos += v & 31
                    size = v >> 5
                    if size:
                        d = win[pos] >> (16 - size)
                        pos += size
                        preds[c] += d if d >= 1 << (size - 1) \
                            else d - (1 << size) + 1
                    seq = None  # allocated lazily: DC-only blocks
                    i = 1       # (EOB straight away) never need it
                    while i < 64:
                        v = ac_lut[win[pos]]
                        if v < 0:
                            raise ValueError(
                                "invalid JPEG Huffman code")
                        pos += v & 31
                        sym = v >> 5
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            i += 16
                            continue
                        i += sym >> 4
                        s = sym & 0xF
                        if i > 63:
                            raise ValueError(
                                "AC coefficient index overflow")
                        d = win[pos] >> (16 - s)
                        pos += s
                        if seq is None:
                            seq = np.zeros(64, dtype=np.float64)
                        seq[i] = d if d >= 1 << (s - 1) \
                            else d - (1 << s) + 1
                        i += 1
                    if seq is None:
                        # DC-only block: the IDCT of a lone [0,0]
                        # coefficient is the constant (c*flat00)*c
                        # with c = m[0,0] — exactly the per-cell
                        # product the matmul path produces (its other
                        # 7 dot terms are exact 0.0 adds), so this is
                        # bit-identical on the same rounding grid.
                        # Constant-tile corpora (the closed-form
                        # oracle fixtures) take this path every block.
                        flat00 = np.float64(preds[c]) * q[0]
                        rv = (m[0, 0] * flat00) * m[0, 0] + 128.0
                        rv = min(max(np.round(rv, 6), 0.0), 255.0)
                        planes[c][by:by + 8, bx:bx + 8] = \
                            np.floor(rv + 0.5)
                        continue
                    seq[0] = preds[c]
                    # DQT rides in zigzag order (spec), like the
                    # coefficients: dequantize in zigzag space, then
                    # scatter to the natural raster grid
                    flat = np.zeros(64, dtype=np.float64)
                    flat[zz] = seq * q
                    rec = m.T @ flat.reshape(8, 8) @ m + 128.0
                    rec = np.clip(np.round(rec, 6), 0.0, 255.0)
                    # floor(x + .5) on the clamped, 6-dp-rounded value
                    # is round-half-away for the non-negative range —
                    # components round to their integer grid BEFORE any
                    # color conversion, like the SQL oracle
                    planes[c][by:by + 8, bx:bx + 8] = \
                        np.floor(rec + 0.5)
    except IndexError:
        raise ValueError("JPEG scan data truncated") from None
    if pos > br.nbits:  # final read ran into the zero padding
        raise ValueError("JPEG scan data truncated")
    if ncomp == 3:
        planes = _ycbcr_to_rgb(*planes)
    out = np.stack(planes, axis=-1).astype(np.uint8)
    return w, h, ncomp, out[:h, :w].reshape(-1)


def write_wav(samples, sample_rate: int = 16000) -> bytes:
    """Mono 16-bit PCM WAV (RIFF/WAVE with fmt + data chunks)."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(payload: bytes):
    """-> int16 ndarray of PCM samples; walks RIFF chunks, validates the
    fmt chunk (PCM, mono, 16-bit)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, data = 12, None
    while off + 8 <= len(payload):
        cid = payload[off:off + 4]
        sz = struct.unpack("<I", payload[off + 4:off + 8])[0]
        chunk = payload[off + 8:off + 8 + sz]
        if cid == b"fmt ":
            audio_fmt, channels, _, _, _, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only mono 16-bit PCM supported")
        elif cid == b"data":
            data = np.frombuffer(chunk, dtype="<i2")
        off += 8 + sz + (sz & 1)  # chunks are word-aligned
    if data is None:
        raise ValueError("no data chunk")
    return data


# hex-string building blocks for JVM-side payload synthesis: a byte is
# lpad(hex(..), 2, '0'); multi-byte little-endian fields are the bytes
# concatenated low-to-high.  hex(<string>) is the hex of its UTF-8
# bytes, so headers come straight from string literals.
_B = "lpad(hex(pmod({v}, 256)), 2, '0')"


def _le_hex(expr: str, nbytes: int) -> str:
    """Hex of `expr` as an nbytes little-endian unsigned integer."""
    parts = [_B.format(v=f"({expr}) DIV {256 ** i}") for i in range(nbytes)]
    return "concat(" + ", ".join(parts) + ")"


def synth_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Round-trippable media payloads derived from doc ids alone: even
    ids become solid-color PPM images, odd ids constant-sample WAV
    audio.  Every decoded property is an analytic function of the id,
    so a SQL oracle can verify the full encode->decode path without
    parsing binaries itself.

    Payload bytes are assembled JVM-side as a hex string (header via
    hex(<literal>), samples via repeat) and one to_binary() — the
    whole synth stage stays inside whole-stage codegen with no Python
    worker, so decode chains built on it pay exactly one Arrow hop.
    Byte layout matches write_ppm/write_wav bit-for-bit (round-trip
    asserted in tests/test_operators.py)."""
    i = f"CAST({id_col} AS BIGINT)"
    w, h, v = f"({i} % 13 + 3)", f"({i} % 7 + 2)", f"({i} % 251)"
    ppm_hex = (
        f"concat(hex(concat('P6\\n', {w}, ' ', {h}, '\\n255\\n')), "
        f"repeat(lpad(hex({v}), 2, '0'), CAST({w} * {h} * 3 AS INT)))"
    )
    # WAV (RIFF little-endian): the fmt chunk for mono 16-bit PCM
    # @16 kHz is a constant (rates 16000=0x3E80, 32000=0x7D00); data is
    # n copies of the two's-complement little-endian sample
    n, s = f"({i} % 50 + 10)", f"({i} % 1000 - 500)"
    fmt_hex = ("concat(hex('fmt '), '10000000', '0100', '0100', "
               "'803E0000', '007D0000', '0200', '1000')")
    wav_hex = (
        f"concat(hex('RIFF'), {_le_hex(f'36 + 2 * {n}', 4)}, hex('WAVE'), "
        f"{fmt_hex}, hex('data'), {_le_hex(f'2 * {n}', 4)}, "
        f"repeat({_le_hex(f'pmod({s}, 65536)', 2)}, CAST({n} AS INT)))"
    )
    return _spread_by_bytes(docs.select(id_col)).select(
        F.expr(i).alias("media_id"),
        F.expr(f"IF({i} % 2 = 0, 'image', 'audio')").alias("media_type"),
        F.expr(f"to_binary(IF({i} % 2 = 0, {ppm_hex}, {wav_hex}), 'hex')"
               ).alias("payload"),
    )


def synth_gradient_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PPM payloads with a per-pixel gradient, v(x, y) = (x + y*w + id)
    % 251 on all three channels — unlike `synth_media`'s solid colors,
    resampling a gradient moves the mean, so a SQL oracle can verify
    the actual nearest-neighbor index math of `resize_media`, not just
    the plumbing.

    Like `synth_media`, the payload is built JVM-side: one transform()
    over the pixel sequence emits per-pixel hex, one to_binary()
    finishes — no Python worker in the synth stage."""
    i = f"CAST({id_col} AS BIGINT)"
    w, h = f"({i} % 13 + 3)", f"({i} % 7 + 2)"
    # row-major pixel p = y*w + x, so v(p) = (p + id) % 251, RGB = 3x
    body_hex = (
        f"concat_ws('', transform(sequence(0, {w} * {h} - 1), "
        f"p -> repeat(lpad(hex(pmod(p + {i}, 251)), 2, '0'), 3)))"
    )
    ppm_hex = (
        f"concat(hex(concat('P6\\n', {w}, ' ', {h}, '\\n255\\n')), "
        f"{body_hex})"
    )
    return _spread_by_bytes(docs.select(id_col)).select(
        F.expr(i).alias("media_id"),
        F.lit("image").alias("media_type"),
        F.expr(f"to_binary({ppm_hex}, 'hex')").alias("payload"),
    )


def synth_jpeg_media(docs: DataFrame, id_col: str = "doc_id",
                     color: bool = False) -> DataFrame:
    """Baseline-JPEG payloads whose pixels are CONSTANT per 8x8 tile
    (w = (i%3+2)*8, h = (i%2+2)*8): a constant block survives the
    lossy DCT path in closed form — only the DC coefficient is
    nonzero, so the decoded tile value is
    round(8(v-128)/Q00)*Q00/8 + 128 on the deterministic rounding grid
    — which makes the whole huffman-encode -> bit-unstuff ->
    huffman-decode -> dequantize -> IDCT pipeline SQL-oracle-able
    without a SQL DCT (the mm_resize trick, one level deeper).

    `color=False`: grayscale, tile t carries v = (t + i) % 251.
    `color=True`: 4:4:4 RGB with tile (r, g, b) =
    ((t+i)%251, (2t+i)%251, (3t+i)%251) — genuinely colored tiles, so
    the oracle additionally recomputes the RGB->YCbCr->quantize->
    YCbCr->RGB chain in closed form (per-channel DC closed form on the
    converted constants, then the decode-side color reconstruction on
    the same rounding grid).  One Arrow hop like `synth_png_media`
    (entropy coding needs Python)."""
    import pandas as pd

    schema = StructType([
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ])

    def gen(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                i = int(i)
                tw, th = i % 3 + 2, i % 2 + 2
                ch = 3 if color else 1
                img = np.zeros((th * 8, tw * 8, ch), dtype=np.uint8)
                for t in range(tw * th):
                    ty, tx = divmod(t, tw)
                    tile = img[ty * 8:(ty + 1) * 8,
                               tx * 8:(tx + 1) * 8]
                    if color:
                        tile[..., 0] = (t + i) % 251
                        tile[..., 1] = (2 * t + i) % 251
                        tile[..., 2] = (3 * t + i) % 251
                    else:
                        tile[..., 0] = (t + i) % 251
                payloads.append(write_jpeg(tw * 8, th * 8,
                                           img.tobytes(), channels=ch))
            yield pd.DataFrame({
                "media_id": ids,
                "media_type": "image",
                "payload": payloads,
            })

    return _spread_by_bytes(docs.select(id_col), rows_per_part=256) \
        .mapInPandas(gen, schema=schema)


def synth_png_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PNG payloads carrying the SAME per-pixel gradient as
    `synth_gradient_media` (v(p) = (p + id) % 251 on all three
    channels, w = id%13+3, h = id%7+2), zlib-compressed through
    `write_png` with the scanline filter CYCLING through all five
    standard types (filter_y = (id + y) % 5).  Decoded pixels are
    filter-invariant, so a SQL oracle can verify the whole
    compress->filter->inflate->unfilter->featurize path against the
    closed-form gradient sum without ever touching zlib.

    Unlike the PPM/WAV generators (JVM-side hex assembly), PNG needs
    zlib, so this synth stage is one Arrow `mapInPandas` hop with the
    per-row-cost partition floor (`_spread_by_bytes(rows_per_part=)` —
    the compress cost is per payload, not per byte)."""
    import pandas as pd

    schema = StructType([
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ])

    def gen(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                i = int(i)
                w, h = i % 13 + 3, i % 7 + 2
                v = ((np.arange(w * h, dtype=np.int64) + i) % 251) \
                    .astype(np.uint8)
                payloads.append(write_png(
                    w, h, np.repeat(v, 3).tobytes(), channels=3,
                    filters=[(i + y) % 5 for y in range(h)]))
            yield pd.DataFrame({
                "media_id": ids,
                "media_type": "image",
                "payload": payloads,
            })

    return _spread_by_bytes(docs.select(id_col), rows_per_part=512) \
        .mapInPandas(gen, schema=schema)


def synth_textured_media(docs: DataFrame, id_col: str = "doc_id",
                         n_contents: int = 40) -> DataFrame:
    """PPM payloads with QUADRATIC texture — the perceptual-hash
    fixture.  Linear gradients (`synth_gradient_media`) are degenerate
    for pHash: their AC DCT coefficients are ~0 so the median
    threshold rides float ties.  Here v(x, y) = (x²(c+3) + y²(2c+5)
    + xy(c+1)) mod 199 + b, which wraps often enough to be genuinely
    textured.

    Structure by construction: content id c = id % n_contents drives
    the pattern AND the shape (w = c%9+6, h = c%5+5); brightness
    b = (id % 7) * 7 is a uniform shift that never overflows a byte
    (198 + 42 < 255).  Two payloads with the same c are therefore the
    same image up to brightness — identical pHash (DC absorbs shifts)
    — while distinct contents measure ≥ 17 bits apart on this fixture,
    so `phash_pairs` output is ANALYTIC (all intra-content pairs,
    hamming 0) and SQL-oracle-able without a SQL DCT.

    Payloads are assembled JVM-side (hex string + one to_binary), same
    as the other synth generators — no Python worker."""
    i = f"CAST({id_col} AS BIGINT)"
    c = f"({i} % {n_contents})"
    b = f"({i} % 7) * 7"
    w, h = f"({c} % 9 + 6)", f"({c} % 5 + 5)"
    v = (f"pmod(pmod(p, {w}) * pmod(p, {w}) * ({c} + 3) "
         f"+ (p div {w}) * (p div {w}) * (2 * {c} + 5) "
         f"+ pmod(p, {w}) * (p div {w}) * ({c} + 1), 199) + {b}")
    body_hex = (
        f"concat_ws('', transform(sequence(0, {w} * {h} - 1), "
        f"p -> repeat(lpad(hex({v}), 2, '0'), 3)))"
    )
    ppm_hex = (
        f"concat(hex(concat('P6\\n', {w}, ' ', {h}, '\\n255\\n')), "
        f"{body_hex})"
    )
    return _spread_by_bytes(docs.select(id_col)).select(
        F.expr(i).alias("media_id"),
        F.lit("image").alias("media_type"),
        F.expr(f"to_binary({ppm_hex}, 'hex')").alias("payload"),
    )


def resize_media(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of PPM and PNG image payloads to
    (out_w, out_h): source row/col for output pixel (x2, y2) is
    (floor(y2*h/out_h), floor(x2*w/out_w)) — the standard NN index
    map.  PNG output re-encodes as PNG with the source's channel
    count; other payloads (WAV, JPEG — a lossy format would
    re-quantize on re-encode) pass through unchanged (width/height
    NULL).

    Output rows are (media_id, media_type, payload, width, height),
    composing with `decode_media(fake=False)` and any downstream media
    operator.  Arrow-batched mapInPandas, embarrassingly parallel per
    partition — the same shape a library-backed (pillow) resize would
    use at scale."""

    def rz(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # group payloads by source (kind, w, h, channels) and
            # resample each group as one stacked (g, h, w, ch) gather —
            # the NN index maps depend only on the source shape, so
            # same-shape images share one vectorized fancy-index
            # instead of a per-row resize
            n_rows = len(pdf)
            out_payload = [None] * n_rows
            out_wh = [(None, None)] * n_rows
            groups: dict = {}
            for pos, payload in enumerate(pdf["payload"]):
                b = bytes(payload or b"")
                if b[:2] == b"P6":
                    w, h, arr = parse_ppm(b)
                    groups.setdefault(("ppm", w, h, 3), []) \
                        .append((pos, arr))
                elif b[:8] == PNG_SIG:
                    w, h, ch, arr = parse_png(b)
                    groups.setdefault(("png", w, h, ch), []) \
                        .append((pos, arr))
                else:
                    out_payload[pos] = b
            header = b"P6\n%d %d\n255\n" % (out_w, out_h)
            for (kind, w, h, ch), members in groups.items():
                imgs = np.stack([a for _, a in members]).reshape(
                    len(members), h, w, ch)
                ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
                xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
                out = imgs[:, ys[:, None], xs[None, :], :].reshape(
                    len(members), -1)
                for (pos, _), flat in zip(members, out):
                    if kind == "ppm":
                        out_payload[pos] = header + flat.tobytes()
                    else:
                        out_payload[pos] = write_png(
                            out_w, out_h, flat.tobytes(), channels=ch)
                    out_wh[pos] = (out_w, out_h)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "payload": out_payload,
                "width": pd.array([p[0] for p in out_wh], dtype="Int32"),
                "height": pd.array([p[1] for p in out_wh], dtype="Int32"),
            })

    return media.mapInPandas(
        rz,
        schema=("media_id BIGINT, media_type STRING, payload BINARY, "
                "width INT, height INT"),
    )


def decode_media(media: DataFrame, n_features: int = 8,
                 fake: bool = True) -> DataFrame:
    """Decode/feature-extract each payload via mapInPandas.

    fake=True: deterministic byte-level featureizer (stand-in for
    library-backed container formats), schema DECODED_SCHEMA.
    fake=False: real PPM/WAV decoders (see parse_ppm/parse_wav), schema
    REAL_DECODED_SCHEMA; unsupported payloads raise ValueError.
    Both stream Arrow batches partition-parallel.
    """
    if not fake:

        def decode_real(batches: Iterator) -> Iterator:
            import numpy as np
            import pandas as pd

            for pdf in batches:
                # header parse is per-row (tiny regex/struct over a few
                # bytes); payload featurization is batched: one
                # concatenated array + reduceat across the whole batch
                kinds, widths, heights, norms = [], [], [], []
                for payload in pdf["payload"]:
                    b = bytes(payload or b"")
                    if b[:2] == b"P6":
                        w, h, arr = parse_ppm(b)
                        norms.append(arr.astype(np.float64) / 255.0)
                        kinds.append("ppm")
                        widths.append(w)
                        heights.append(h)
                    elif b[:8] == PNG_SIG:
                        w, h, _ch, arr = parse_png(b)
                        norms.append(arr.astype(np.float64) / 255.0)
                        kinds.append("png")
                        widths.append(w)
                        heights.append(h)
                    elif b[:2] == b"\xff\xd8":
                        w, h, _ch, arr = parse_jpeg(b)
                        norms.append(arr.astype(np.float64) / 255.0)
                        kinds.append("jpeg")
                        widths.append(w)
                        heights.append(h)
                    elif b[:4] == b"RIFF":
                        pcm = parse_wav(b)
                        norms.append(
                            np.abs(pcm.astype(np.float64)) / 32768.0)
                        kinds.append("wav")
                        widths.append(None)
                        heights.append(None)
                    else:
                        raise ValueError(
                            "unsupported payload (PPM P6, PNG, baseline "
                            "JPEG or PCM WAV only); use fake=True for "
                            "opaque formats"
                        )
                lengths = np.array([v.size for v in norms], dtype=np.int64)
                flat = (np.concatenate(norms) if norms
                        else np.zeros(0))
                totals = _chunk_means(flat, lengths, 1)[:, 0]
                feats = _chunk_means(flat, lengths, n_features)
                yield pd.DataFrame({
                    "media_id": pdf["media_id"],
                    "kind": kinds,
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "n_samples": lengths,
                    "mean_val": totals,
                    "features": list(feats),
                })

        return media.mapInPandas(decode_real, schema=REAL_DECODED_SCHEMA)

    def decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # deterministic fake "embedding": mean byte value per
            # n_features equal-width chunks, scaled to [0, 1] —
            # computed for the whole Arrow batch in one stacked
            # reduceat pass instead of a per-payload split loop
            payloads = [bytes(b or b"") for b in pdf["payload"]]
            lengths = np.array([len(b) for b in payloads], dtype=np.int64)
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8
                                 ).astype(np.float64)
            feats = _chunk_means(flat, lengths, n_features)
            feats = np.round(feats / 255.0, 6)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": lengths,
                "features": list(feats),
            })

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    timestamp (the actual frame decode is the stubbed step).  Pure SQL
    explode — the row-multiplication pattern a real sampler would use."""
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("meta_duration_ms"),
                           F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


STATS_SCHEMA = ("media_id BIGINT, kind STRING, n_samples BIGINT, "
                "mean_val DOUBLE, min_val DOUBLE, max_val DOUBLE, "
                "rms DOUBLE, zcr DOUBLE")


def media_stats(media: DataFrame) -> DataFrame:
    """Real per-payload statistics over decoded media: images (PPM) get
    normalized pixel mean/min/max/RMS; audio (WAV) additionally gets
    the zero-crossing rate (fraction of adjacent sample pairs with a
    strict sign change — the classic cheap voicing/noise feature).
    Unknown containers yield NULL stats (kind 'raw'), mirroring
    `decode_media(fake=False)`.

    Arrow-batched mapInPandas, one numpy pass per payload —
    embarrassingly parallel, no shuffle; on synthetic gradient /
    constant-sample media every output is an analytic function of the
    id, so the DuckDB oracle verifies the decode arithmetic without
    touching binaries (same strategy as `mm_decode_real`)."""

    def stats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                kind, n = "raw", None
                mean = mn = mx = rms = zcr = None
                try:
                    if b[:2] == b"P6":
                        kind = "ppm"
                        _, _, arr = parse_ppm(b)
                        v = arr.astype(np.float64) / 255.0
                        n = int(v.size)
                    elif b[:4] == b"RIFF":
                        kind = "wav"
                        s = parse_wav(b)
                        v = s.astype(np.float64) / 32768.0
                        n = int(v.size)
                        if n > 1:
                            zcr = round(
                                float(np.mean(v[1:] * v[:-1] < 0)), 6)
                        else:
                            zcr = 0.0
                    else:
                        v = None
                    if v is not None and n:
                        mean = round(float(v.mean()), 6)
                        mn = round(float(v.min()), 6)
                        mx = round(float(v.max()), 6)
                        rms = round(float(np.sqrt(np.mean(v * v))), 6)
                except (ValueError, struct_error):
                    kind, n = "raw", None
                rows.append((int(mid), kind, n, mean, mn, mx, rms, zcr))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "n_samples", "mean_val",
                         "min_val", "max_val", "rms", "zcr"],
            ).astype({"n_samples": "Int64"})

    return _spread_by_bytes(media).mapInPandas(stats, schema=STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing — near-duplicate IMAGES (brightness shifts, small
# noise) that byte-level hashing can never catch
# ---------------------------------------------------------------------------

PHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("phash", LongType()),
])


def phash64(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """64-bit DCT perceptual hash per PPM image payload.

    Classic pHash recipe: grayscale → nearest-neighbor resize to
    (hash_size x hash_size) → 2-D DCT-II → drop the DC coefficient →
    each remaining coefficient contributes one bit (1 iff above the
    median of the non-DC block).  Invariant to uniform brightness
    shifts (DC carries them) and robust to a few changed pixels, which
    is exactly what near-dup image curation needs; a recompressed or
    re-exposed copy of an image keeps its hash while a cryptographic
    content hash changes completely.

    Same Arrow mapInPandas shape as every decoder here: streaming
    record batches, one numpy pass per payload, no shuffle; the DCT is
    two (8 x N) matmuls — microseconds per image.  Non-PPM payloads
    hash to NULL (filtered by callers).
    """
    hs = int(hash_size)
    if hs * hs > 64 + 1:
        raise ValueError("hash_size^2 must fit 64 bits plus DC")

    def ph(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        # orthonormal DCT-II basis matrix — built once per task
        def dct_mat(n):
            m = np.cos(np.pi * (2 * np.arange(n)[None, :] + 1)
                       * np.arange(n)[:, None] / (2 * n))
            m[0] *= 1 / np.sqrt(2)
            return m * np.sqrt(2 / n)

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                hval = None
                try:
                    if b[:2] == b"P6":
                        w, h, arr = parse_ppm(b)
                        px = arr.astype(np.float64).reshape(h, w, 3).mean(axis=2)
                        # nearest-neighbor resample to hs x hs (same
                        # index map as resize_media)
                        ys = (np.arange(hs) * h) // hs
                        xs = (np.arange(hs) * w) // hs
                        small = px[np.ix_(ys, xs)]
                        d = dct_mat(hs)
                        coef = d @ small @ d.T
                        # quantize before thresholding: images with
                        # analytically-zero AC coefficients (flat or
                        # linear-gradient content) would otherwise get
                        # float-noise signs, breaking the brightness-
                        # shift invariance the hash exists to provide
                        flat = np.round(coef.ravel()[1:], 6)  # drop DC
                        med = np.median(flat)
                        bits = flat > med
                        hval = 0
                        for i, bit in enumerate(bits):
                            if bit:
                                hval |= 1 << i
                        # top bit spare keeps the value positive int64
                        hval = int(hval)
                except ValueError:
                    hval = None
                rows.append((int(mid), hval))
            yield pd.DataFrame(rows, columns=["media_id", "phash"]).astype(
                {"phash": "Int64"})

    # rows floor: the DCT is ~0.2 ms/payload of per-ROW numpy work, so
    # a byte-only estimate of the tiny-image corpus under-partitions
    # to 1 task (measured 1.58 s -> 0.59 s at 5k payloads, sweep in
    # SCALING.md mm_phash section)
    return _spread_by_bytes(media, rows_per_part=256).mapInPandas(
        ph, schema=PHASH_SCHEMA)


def phash_pairs(media: DataFrame, max_hamming: int = 3,
                hash_size: int = 8) -> DataFrame:
    """Near-duplicate image pairs (id_a, id_b, hamming) by pHash —
    banded pigeonhole candidates, EXACT for max_hamming <= 3 (4 bands
    of 16 bits over the 63 used bits; two hashes within distance 3
    must agree on a whole band), then bit_count(xor) verify.  The
    candidate join ships only (id, band, bval) rows — hashes never
    ride the candidate shuffle — the identical scale shape as
    `dedup.simhash_pairs` (see its docstring for the band-math
    argument).
    """
    if max_hamming > 3:
        raise ValueError("banded candidates are exact only for "
                         "small hamming budgets (pigeonhole)")
    sigs = cache(
        phash64(media, hash_size).where(F.col("phash").isNotNull())
    )
    # max_hamming+1 disjoint bands covering all 64 bits: h flipped bits
    # cannot touch every band, so two hashes within the budget must
    # agree on a whole band — fewer, WIDER bands than a fixed 4x16
    # split (more selective buckets, 25% fewer band rows at h=2).
    # The 64-bit hash rides the band rows (it is id-sized — the
    # "signatures never enter the candidate shuffle" rule is about
    # array signatures), so the verify happens INSIDE the band join
    # and the pair dedup is one groupBy — round 5's distinct + two
    # hash join-backs re-shuffled the (potentially dup-dense) pair set
    # three times (measured 52 s -> 17 s pair machinery on a 10x
    # corpus with 625-way duplicate families).
    # Identical-hash families collapse FIRST: exact duplicates (the
    # dominant mass in any dup-dense corpus) pair through one equi
    # self-join on the full hash — the quadratic family expansion
    # happens exactly once, in the final join, with no distinct / no
    # groupBy / no re-shuffle of pair rows.  Only DISTINCT hashes
    # enter the band join (max_hamming+1 disjoint bands covering all
    # 64 bits — pigeonhole-exact, and wider than a fixed 4x16 split),
    # where hamming verifies inline on the hash pair and the
    # (tiny) hash-pair set expands to member pairs afterwards.  On a
    # dup-free corpus the intra join emits nothing and the band join
    # degrades to the round-5 shape; on a 10x corpus with 625-way
    # duplicate families this cut 52 s of pair machinery to ~4 s.
    intra = (
        sigs.alias("a")
        .join(sigs.alias("b"),
              (F.col("a.phash") == F.col("b.phash"))
              & (F.col("a.media_id") < F.col("b.media_id")))
        .select(F.col("a.media_id").alias("id_a"),
                F.col("b.media_id").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"))
    )
    nb = max_hamming + 1
    w = (64 + nb - 1) // nb
    parts = []
    for b in range(nb):
        lo = b * w
        width = min(w, 64 - lo)
        if width <= 0:
            break
        mask = (1 << width) - 1
        parts.append(f"struct({b} AS band, "
                     f"shiftright(phash, {lo}) & {mask}L AS bval)")
    dh = sigs.select("phash").distinct()
    banded = dh.select(
        "phash",
        F.explode(F.expr(f"array({', '.join(parts)})")).alias("bb"),
    ).select("phash", F.col("bb.band").alias("band"),
             F.col("bb.bval").alias("bval"))
    hash_pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.phash") < F.col("b.phash")),
        )
        .select(
            F.col("a.phash").alias("ph_a"), F.col("b.phash").alias("ph_b"),
            F.expr("bit_count(a.phash ^ b.phash)").cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("ph_a", "ph_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    cross = (
        hash_pairs
        .join(sigs.select(F.col("media_id").alias("__ia"),
                          F.col("phash").alias("ph_a")), "ph_a")
        .join(sigs.select(F.col("media_id").alias("__ib"),
                          F.col("phash").alias("ph_b")), "ph_b")
        .select(F.least("__ia", "__ib").alias("id_a"),
                F.greatest("__ia", "__ib").alias("id_b"),
                "hamming")
    )
    return intra.unionByName(cross)


# ---------------------------------------------------------------------------
# Audio fingerprinting — volume-invariant features for AUDIO near-dup
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_samples", LongType()),
    StructField("n_transitions", IntegerType()),
    StructField("zcr", DoubleType()),
    StructField("est_period", IntegerType()),
    StructField("amp", DoubleType()),
])


def synth_square_wav(docs: DataFrame, id_col: str = "doc_id",
                     n_contents: int = 30) -> DataFrame:
    """Square-wave WAV payloads — the audio-fingerprint fixture.

    Content id c = id % n_contents sets the half-period hp = c%10+2
    (so the wave's fundamental is content-determined); amplitude
    a = (id%5+1)*3000 varies WITHIN a content group — a volume change
    the fingerprint must ignore.  20 blocks of hp samples alternate
    +a/-a, so every decoded feature is analytic: n = 20·hp,
    transitions = 19, est_period = 2·hp, amp = a/32768.

    Like the other generators the payload is assembled JVM-side: the
    RIFF/fmt header comes from `synth_media`'s constant-chunk recipe
    and the data chunk is repeat(hp·(+a) ++ hp·(−a)) — one to_binary,
    no Python worker."""
    i = f"CAST({id_col} AS BIGINT)"
    c = f"({i} % {n_contents})"
    hp = f"({c} % 10 + 2)"
    a = f"(({i} % 5 + 1) * 3000)"
    n = f"(20 * {hp})"
    fmt_hex = ("concat(hex('fmt '), '10000000', '0100', '0100', "
               "'803E0000', '007D0000', '0200', '1000')")
    block_hex = (
        f"repeat(concat(repeat({_le_hex(f'pmod({a}, 65536)', 2)}, "
        f"CAST({hp} AS INT)), repeat({_le_hex(f'pmod(-{a}, 65536)', 2)}, "
        f"CAST({hp} AS INT))), 10)"
    )
    wav_hex = (
        f"concat(hex('RIFF'), {_le_hex(f'36 + 2 * {n}', 4)}, hex('WAVE'), "
        f"{fmt_hex}, hex('data'), {_le_hex(f'2 * {n}', 4)}, {block_hex})"
    )
    return _spread_by_bytes(docs.select(id_col)).select(
        F.expr(i).alias("media_id"),
        F.lit("audio").alias("media_type"),
        F.expr(f"to_binary({wav_hex}, 'hex')").alias("payload"),
    )


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Volume-invariant audio features per WAV payload: zero-crossing
    count/rate and the period estimate 2n/(transitions+1) — the
    cheapest robust pitch-class fingerprint (a re-encoded or
    re-normalized copy of a recording keeps its ZCR profile while its
    bytes and RMS change).  `amp` (peak magnitude, normalized) is
    included as the NON-invariant control feature.

    Arrow-batched mapInPandas, one numpy pass per payload, no shuffle
    — identical scale shape to `media_stats`.  Non-WAV payloads yield
    NULL features."""

    def fp(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                n = trans = zcr = est = amp = None
                try:
                    if b[:4] == b"RIFF":
                        v = parse_wav(b).astype(np.float64)
                        n = int(v.size)
                        if n > 1:
                            trans = int(np.sum(v[1:] * v[:-1] < 0))
                            zcr = round(trans / (n - 1), 6)
                            est = (round(2 * n / (trans + 1))
                                   if trans else None)
                        amp = round(float(np.abs(v).max()) / 32768.0, 6)
                except (ValueError, struct_error):
                    n = None
                rows.append((int(mid), n, trans, zcr, est, amp))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "n_transitions",
                         "zcr", "est_period", "amp"],
            ).astype({"n_samples": "Int64", "n_transitions": "Int32",
                      "est_period": "Int32"})

    return _spread_by_bytes(media).mapInPandas(fp, schema=AUDIO_FP_SCHEMA)


# ---------------------------------------------------------------------------
# Video scene-cut detection — frame-difference over raw frame stacks
# ---------------------------------------------------------------------------

SCENE_SCHEMA = ("media_id BIGINT, frame_idx INT, diff DOUBLE, "
                "is_cut BOOLEAN")


def synth_video(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Raw-frame video payloads with one planted scene change — the
    scene-cut fixture.  Container: 'YSV1' + '<w> <h> <n>\\n' header,
    then n frames of w*h*3 constant-color bytes.  From the id:
    w = id%5+2, h = id%3+2, n = id%6+4 frames, the cut lands AFTER
    frame c = id%(n-1)+1 — colors v1 = id%251 before, v2 =
    (id*7+13)%251 at/after — so every frame diff is analytic:
    |v2-v1|/255 at index c, 0.0 elsewhere.

    Like the other generators the payload is assembled JVM-side (hex
    concat + repeat + one to_binary) — no Python worker."""
    i = f"CAST({id_col} AS BIGINT)"
    w, h = f"({i} % 5 + 2)", f"({i} % 3 + 2)"
    n = f"({i} % 6 + 4)"
    c = f"({i} % ({n} - 1) + 1)"
    v1, v2 = f"({i} % 251)", f"(({i} * 7 + 13) % 251)"
    fb = f"CAST({w} * {h} * 3 AS INT)"  # bytes per frame
    vid_hex = (
        f"concat(hex(concat('YSV1', {w}, ' ', {h}, ' ', {n}, '\\n')), "
        f"repeat(lpad(hex({v1}), 2, '0'), {fb} * CAST({c} AS INT)), "
        f"repeat(lpad(hex({v2}), 2, '0'), "
        f"{fb} * CAST({n} - {c} AS INT)))"
    )
    return _spread_by_bytes(docs.select(id_col)).select(
        F.expr(i).alias("media_id"),
        F.lit("video").alias("media_type"),
        F.expr(f"to_binary({vid_hex}, 'hex')").alias("payload"),
    )


def scene_cuts(media: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Scene-change detection: per adjacent-frame pair, the normalized
    mean absolute pixel difference and whether it crosses `threshold`
    — (media_id, frame_idx, diff, is_cut), one row per frame 1..n-1
    (frame_idx is the LATER frame).  The shot-boundary primitive of
    every video curation pipeline (sample one keyframe per shot
    instead of fixed-rate frames).

    Arrow mapInPandas: parse the YSV1 header, one numpy reshape +
    vectorized |f[i] - f[i-1]| mean per payload — no shuffle, byte-
    budget partitioning via `_spread_by_bytes`, identical scale shape
    to `media_stats`.  Non-YSV1 payloads yield no rows."""

    def cuts(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                if b[:4] != b"YSV1":
                    continue
                try:
                    nl = b.index(b"\n", 4)
                    w, h, n = (int(x) for x in b[4:nl].split())
                    fb = w * h * 3
                    frames = np.frombuffer(
                        b, dtype=np.uint8, count=n * fb, offset=nl + 1
                    ).astype(np.float64).reshape(n, fb)
                except (ValueError, IndexError):
                    continue
                d = np.abs(np.diff(frames, axis=0)).mean(axis=1) / 255.0
                for idx, dv in enumerate(d, start=1):
                    dv = round(float(dv), 6)
                    out.append((int(mid), idx, dv, dv > threshold))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "diff", "is_cut"]
            ).astype({"frame_idx": "int32"})

    return _spread_by_bytes(media).mapInPandas(cuts, schema=SCENE_SCHEMA)
