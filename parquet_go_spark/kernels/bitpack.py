"""Bit-packing + ULEB128 varint kernels, vectorized numpy.

Semantics: fixed-width LSB-first bit packing as used by Parquet's
RLE/bit-packed hybrid and DELTA_BINARY_PACKED encodings
(parquet.thrift:591-604 — the reference decodes/encodes these in its
Go ``decode.go``/``encode.go``). The bit kernels work a ``uint64`` word
at a time, as a compiled unpacker does: a value spans at most two words,
so a pack or unpack is a fixed count of numpy calls whatever the width.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "bit_width",
    "pack_bits",
    "unpack_bits",
    "pack_bits_segmented",
    "unpack_bits_segmented",
    "uleb128_encode_array",
    "uleb128_decode_stream",
]

_1, _63 = np.uint64(1), np.uint64(63)


def bit_width(max_val: int) -> int:
    """Bits needed to represent ``max_val`` (>=0). bit_width(0) == 0."""
    if max_val < 0:
        raise ValueError("bit_width requires a non-negative value")
    return int(max_val).bit_length()


def _mask(width: int) -> np.uint64:
    if width < 0 or width > 64:
        raise ValueError(f"width out of range: {width}")
    return np.uint64((1 << width) - 1)


def _scatter(vals: np.ndarray, width: int, bitstart: np.ndarray,
             nbytes: int) -> bytes:
    """Write each value's low ``width`` bits at its ``bitstart``
    (non-decreasing, disjoint) into ``nbytes`` zero bytes. A word's
    values are a contiguous run, OR-reduced as ``v << off``; the next
    word takes the spill ``v >> (64 - off)``, split into two shifts so
    that ``off == 0`` never shifts by 64."""
    mask = _mask(width)
    if nbytes == 0:
        return b""
    v = np.ascontiguousarray(vals, dtype=np.uint64) & mask
    k, off = bitstart >> 6, (bitstart & 63).astype(np.uint64)
    runs = np.flatnonzero(np.diff(k, prepend=-1))
    words = np.zeros(nbytes // 8 + 2, dtype="<u8")
    words[k[runs]] = np.bitwise_or.reduceat(v << off, runs)
    words[k[runs] + 1] |= np.bitwise_or.reduceat((v >> _1) >> (_63 - off),
                                                 runs)
    return words.view(np.uint8)[:nbytes].tobytes()


def _gather(buf: bytes | np.ndarray, width: int,
            bitstart: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_scatter`, as uint64. Bits past the end of
    ``buf`` read as 0."""
    mask = _mask(width)
    if width == 0 or len(bitstart) == 0:  # no bits to read
        return np.zeros(len(bitstart), dtype=np.uint64)
    raw = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, np.uint8)
    k, off = bitstart >> 6, (bitstart & 63).astype(np.uint64)
    padded = np.zeros(8 * (int(k[-1]) + 2), dtype=np.uint8)
    used = min(len(raw), len(padded))
    padded[:used] = raw[:used]
    w = padded.view("<u8")
    return ((w[k] >> off) | ((w[k + 1] << _1) << (_63 - off))) & mask


def _segment_bitstarts(counts: np.ndarray,
                       width: int) -> tuple[np.ndarray, int]:
    """Bit starts of values in consecutive pieces, each piece padded to
    a whole byte, and the total byte length."""
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    byte_off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum((counts * width + 7) // 8, out=byte_off[1:])
    ccum = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=ccum[1:])
    idx_in = np.arange(ccum[-1], dtype=np.int64) - np.repeat(ccum[:-1], counts)
    return (np.repeat(byte_off[:-1], counts) * 8 + idx_in * width,
            int(byte_off[-1]))


def pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values (< 2**width) into a LSB-first bitstream.

    Output is padded with zero bits to a whole number of bytes.
    """
    n = len(vals)
    return _scatter(vals, width, np.arange(n, dtype=np.int64) * width,
                    (n * width + 7) // 8)


def unpack_bits(buf: bytes | np.ndarray, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_bits`; returns uint64 array of length ``n``."""
    return _gather(buf, width, np.arange(n, dtype=np.int64) * width)


def pack_bits_segmented(vals: np.ndarray, counts: np.ndarray,
                        width: int) -> bytes:
    """Pack values belonging to consecutive pieces, each piece padded to
    a whole byte, in ONE vectorized pass, whatever the piece count."""
    return _scatter(vals, width, *_segment_bitstarts(counts, width))


def unpack_bits_segmented(buf: np.ndarray, counts: np.ndarray,
                          width: int) -> np.ndarray:
    """Inverse of :func:`pack_bits_segmented`: ``buf`` holds the
    concatenated per-piece byte-padded streams."""
    return _gather(buf, width, _segment_bitstarts(counts, width)[0])


def uleb128_encode_array(vals: np.ndarray) -> bytes:
    """Encode an array of uint64 as concatenated ULEB128 varints, vectorized."""
    n = len(vals)
    if n == 0:
        return b""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    # bytes needed per value: ceil(bitlen/7), min 1
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    maxb = int(nb.max())
    groups = np.empty((n, maxb), dtype=np.uint8)
    for k in range(maxb):
        groups[:, k] = (v >> np.uint64(7 * k)).astype(np.uint8) & 0x7F
    col = np.arange(maxb)
    keep = col[None, :] < nb[:, None]
    cont = col[None, :] < (nb - 1)[:, None]
    groups[cont] |= 0x80
    return groups[keep].tobytes()


def uleb128_decode_stream(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a stream of back-to-back ULEB128 varints, vectorized.

    The whole buffer must consist of varints (no trailing payload).
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    if len(ends) == 0 or ends[-1] != len(b) - 1:
        raise ValueError("truncated varint stream")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if int(lens.max()) > 10:
        raise ValueError("varint longer than 10 bytes")
    pos_in = np.arange(len(b)) - np.repeat(starts, lens)
    vals7 = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in.astype(np.uint64))
    return np.add.reduceat(vals7, starts)
