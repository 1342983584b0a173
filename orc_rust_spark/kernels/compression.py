"""ORC chunked block compression (SURVEY §2.2).

Format per `src/compression.rs:30-347`: a stream is a sequence of
chunks, each prefixed by a 3-byte little-endian header
``(chunk_length << 1) | is_original``; ``is_original=1`` means the chunk
body is stored uncompressed (the reference does the same when
compression does not shrink a block, `compression.rs:104-123`).  Default
block size 256 KiB (`compression.rs:31`).

zlib uses raw DEFLATE (no zlib wrapper), matching ORC's spec and the
reference's flate2 usage.  snappy and zstd route through pyarrow's
codecs (raw snappy's LEB128 length preamble / the zstd frame content
size supply the exact decompressed sizes pyarrow requires); lz4 blocks
decode with a pure-python LZ4-block reader (the format carries no
length, and only the decoder itself knows where output ends).
Standalone python modules are preferred when importable.  lzo decodes
through a pure-python LZO1X reader written against the public stream
format documentation (decode-only, like the reference).
"""

from __future__ import annotations

import zlib

DEFAULT_BLOCK_SIZE = 256 * 1024

K_NONE, K_ZLIB, K_SNAPPY, K_LZO, K_LZ4, K_ZSTD = 0, 1, 2, 3, 4, 5
KIND_NAMES = {K_NONE: "none", K_ZLIB: "zlib", K_SNAPPY: "snappy",
              K_LZO: "lzo", K_LZ4: "lz4", K_ZSTD: "zstd"}

try:  # pragma: no cover - not in this container
    import zstandard as _zstd
except ImportError:
    _zstd = None
try:  # pragma: no cover
    import snappy as _snappy
except ImportError:
    _snappy = None
try:  # pragma: no cover
    import lz4.block as _lz4
except ImportError:
    _lz4 = None
try:
    import pyarrow as _pa
except Exception:  # pragma: no cover
    _pa = None


def _pa_codec(name: str):
    """Construct one pyarrow codec, independently guarded — a failure
    for one codec must not disable the others."""
    if _pa is None:
        return None
    try:
        return _pa.Codec(name) if _pa.Codec.is_available(name) else None
    except Exception:  # pragma: no cover
        return None


_PA_SNAPPY = _pa_codec("snappy")
_PA_LZ4 = _pa_codec("lz4_raw")
_PA_ZSTD = _pa_codec("zstd")


def _snappy_embedded_size(block: bytes) -> int:
    """Raw snappy's preamble: LEB128 uncompressed length."""
    size = 0
    shift = 0
    i = 0
    while True:
        b = block[i]
        size |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return size
        shift += 7


def _zstd_frame_content_size(block: bytes) -> int | None:
    """Zstd frame header's Frame_Content_Size field, when present."""
    if len(block) < 5 or block[:4] != b"\x28\xb5\x2f\xfd":
        return None
    fhd = block[4]
    fcs_flag = fhd >> 6
    single_seg = (fhd >> 5) & 1
    pos = 5
    if not single_seg:
        pos += 1  # window descriptor
    did = fhd & 3
    pos += (0, 1, 2, 4)[did]
    if fcs_flag == 0:
        if not single_seg:
            return None
        return block[pos]
    nbytes = (0, 2, 4, 8)[fcs_flag]
    v = int.from_bytes(block[pos: pos + nbytes], "little")
    if fcs_flag == 1:
        v += 256
    return v


def _match_start(out: bytearray, d: int) -> int:
    """Start of a back-reference `d` bytes behind the end of `out`.  A
    distance of 0 or past the bytes decoded so far is corrupt input;
    Python's negative indexing would otherwise read it silently."""
    if not 0 < d <= len(out):
        raise ValueError(f"back-reference distance {d} outside the "
                         f"{len(out)} bytes decoded so far")
    return len(out) - d


def _literals(src: bytes, i: int, n: int) -> bytes:
    """The `n`-byte literal run at `i`; a run past the end of the input
    is corrupt, where slicing would silently return it short."""
    if i + n > len(src):
        raise ValueError(f"literal run of {n} bytes at {i} past the end "
                         f"of the {len(src)}-byte input")
    return src[i: i + n]


def _lz4_block_decompress(src: bytes) -> bytes:
    """Pure-python LZ4 BLOCK decoder (public format spec): sequences of
    (token, literals, 2-byte LE offset, match).  Exact output length by
    construction — the last sequence is literals-only."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += _literals(src, i, lit)
        i += lit
        if i >= n:
            break  # final literals-only sequence
        off = src[i] | (src[i + 1] << 8)
        i += 2
        mlen = token & 15
        if mlen == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        start = _match_start(out, off)
        if off >= mlen:
            out += out[start: start + mlen]
        else:  # overlapping match: byte-by-byte copy semantics
            for j in range(mlen):
                out.append(out[start + j])
    return bytes(out)


def _compress_one(kind: int, block: bytes) -> bytes:
    if kind == K_ZLIB:
        c = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
        return c.compress(block) + c.flush()
    if kind == K_ZSTD and _zstd is not None:
        return _zstd.ZstdCompressor().compress(block)
    if kind == K_ZSTD and _PA_ZSTD is not None:
        return bytes(_PA_ZSTD.compress(block))
    if kind == K_SNAPPY and _snappy is not None:
        return _snappy.compress(block)
    if kind == K_SNAPPY and _PA_SNAPPY is not None:
        return bytes(_PA_SNAPPY.compress(block))
    if kind == K_LZ4 and _lz4 is not None:
        return _lz4.compress(block, store_size=False)
    if kind == K_LZ4 and _PA_LZ4 is not None:
        return bytes(_PA_LZ4.compress(block))
    raise ValueError(f"unsupported compression kind {kind}")


def _decompress_one(kind: int, block: bytes,
                    max_size: int = DEFAULT_BLOCK_SIZE) -> bytes:
    if kind == K_ZLIB:
        return zlib.decompress(block, -zlib.MAX_WBITS)
    if kind == K_ZSTD and _zstd is not None:
        return _zstd.ZstdDecompressor().decompress(block)
    if kind == K_ZSTD and _PA_ZSTD is not None:
        fcs = _zstd_frame_content_size(block)
        if fcs is None:
            raise ValueError("zstd frame without content size "
                             "(pyarrow codec needs the exact length)")
        return bytes(_PA_ZSTD.decompress(block, fcs))
    if kind == K_SNAPPY and _snappy is not None:
        return _snappy.decompress(block)
    if kind == K_SNAPPY and _PA_SNAPPY is not None:
        # raw snappy embeds its uncompressed length in a preamble
        return bytes(_PA_SNAPPY.decompress(
            block, _snappy_embedded_size(block)))
    if kind == K_LZ4 and _lz4 is not None:
        # raw lz4 blocks don't carry their size; ORC chunk bodies are
        # bounded by the writer's block size, which the decompressor
        # takes as the allocation hint
        return _lz4.decompress(block, uncompressed_size=max_size)
    if kind == K_LZ4:
        # raw lz4 blocks carry no length (and padding a size bound
        # corrupts protobuf streams), but the block format itself tells
        # us where output ends: decode it directly.  Interop-fixture
        # path, not a hot loop.
        return _lz4_block_decompress(block)
    if kind == K_LZO:
        return _lzo1x_decompress(block)
    raise ValueError(f"unsupported compression kind {kind}")


def compress_stream(blob: bytes, kind: int,
                    block_size: int = DEFAULT_BLOCK_SIZE) -> bytes:
    """blob -> ORC chunked stream (header + body per block)."""
    if kind == K_NONE:
        return blob
    out = bytearray()
    for off in range(0, len(blob), block_size):
        block = blob[off: off + block_size]
        comp = _compress_one(kind, block)
        if len(comp) < len(block):
            header = len(comp) << 1
            body = comp
        else:  # stored as original, like the reference
            header = (len(block) << 1) | 1
            body = block
        out += header.to_bytes(3, "little")
        out += body
    return bytes(out)


def decompress_stream(buf, kind: int,
                      block_size: int = DEFAULT_BLOCK_SIZE,
                      max_bytes: int | None = None) -> bytes:
    """`block_size` is the writer's compressionBlockSize (PostScript
    field 3) — the upper bound each chunk decompresses to, needed by
    codecs whose raw blocks don't carry their size (lz4).  `max_bytes`
    stops after the chunk that reaches that many output bytes — readers
    slicing a row group out of a long stream need only its prefix."""
    if kind == K_NONE:
        return bytes(buf)
    buf = memoryview(buf)
    out = bytearray()
    pos = 0
    while pos < len(buf):
        header = int.from_bytes(buf[pos: pos + 3], "little")
        pos += 3
        length = header >> 1
        body = bytes(buf[pos: pos + length])
        pos += length
        out += body if header & 1 else _decompress_one(kind, body, block_size)
        if max_bytes is not None and len(out) >= max_bytes:
            break
    return bytes(out)


def _lzo1x_decompress(src: bytes) -> bytes:
    """Pure-python LZO1X decompressor, written against the public
    stream-format documentation (the Linux kernel's Documentation/
    lzo.txt description of instruction encodings and the trailing-state
    literal rule).  Decode-only: ORC's lzo files are read, never
    written (`src/compression.rs:125-213` is also decode-only)."""
    out = bytearray()
    i = 0
    n = len(src)

    def _count_zeros_then(base: int) -> int:
        nonlocal i
        length = 0
        while src[i] == 0:
            length += 255
            i += 1
        length += base + src[i]
        i += 1
        return length

    state = 0
    t = src[i]
    if t > 17:  # initial literal run
        i += 1
        ln = t - 17
        out += _literals(src, i, ln)
        i += ln
        state = 4 if ln >= 4 else ln
        t = src[i]

    while True:
        t = src[i]
        i += 1
        if t <= 15:
            if state == 0:
                # long/short literal run
                ln = _count_zeros_then(15) if t == 0 else t
                ln += 3
                out += _literals(src, i, ln)
                i += ln
                state = 4
                continue
            elif state <= 3:
                # 2-byte match, distance <= 1024, from the t we just read
                d = (src[i] << 2) + (t >> 2) + 1
                i += 1
                pos = _match_start(out, d)
                out += bytes((out[pos], out[pos + 1]))
                state = t & 3
            else:
                # state == 4: 3-byte match, distance 2049..3072
                d = (src[i] << 2) + (t >> 2) + 2049
                i += 1
                pos = _match_start(out, d)
                for j in range(3):
                    out.append(out[pos + j])
                state = t & 3
        elif t <= 31:
            # M4: 3-bit L field, so the extended-length base is 7 (the
            # 5-bit M3 branch below keeps base 31) — lzo.txt:
            # length = 2 + (L ?: 7 + 255*zeros + nonzero)
            ln = _count_zeros_then(7) if (t & 7) == 0 else (t & 7)
            ln += 2
            le = src[i] | (src[i + 1] << 8)
            i += 2
            d = 16384 + ((t & 8) << 11) + (le >> 2)
            state = le & 3
            if d == 16384:
                break  # end-of-stream marker
            pos = _match_start(out, d)
            if d >= ln:
                out += out[pos: pos + ln]
            else:
                for j in range(ln):
                    out.append(out[pos + j])
        elif t <= 63:
            ln = _count_zeros_then(31) if (t & 31) == 0 else (t & 31)
            ln += 2
            le = src[i] | (src[i + 1] << 8)
            i += 2
            d = (le >> 2) + 1
            state = le & 3
            pos = _match_start(out, d)
            if d >= ln:
                out += out[pos: pos + ln]
            else:
                for j in range(ln):
                    out.append(out[pos + j])
        else:
            if t <= 127:
                ln = 3 + ((t >> 5) & 1)
            else:
                ln = 5 + ((t >> 5) & 3)
            d = (src[i] << 3) + ((t >> 2) & 7) + 1
            i += 1
            state = t & 3
            pos = _match_start(out, d)
            if d >= ln:
                out += out[pos: pos + ln]
            else:
                for j in range(ln):
                    out.append(out[pos + j])
        if state:
            out += _literals(src, i, state)
            i += state
            # trailing literals 1..3 keep the short-match state machine
            # in its "last were few literals" mode (state stays 1..3)
    return bytes(out)
