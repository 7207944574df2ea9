"""Kernel unit + property tests (no Spark) — FIXTURES.md §F2 vectors."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from parquet_go_spark.kernels.bitpack import (
    bit_width,
    pack_bits,
    pack_bits_segmented,
    unpack_bits,
    unpack_bits_segmented,
    uleb128_decode_stream,
    uleb128_encode_array,
)
from parquet_go_spark.kernels.delta import (
    delta_decode,
    delta_encode,
    for_decode,
    for_encode,
)
from parquet_go_spark.kernels.plain import (
    bool_decode,
    bool_encode,
    bss_decode,
    bss_encode,
    str_decode,
    str_encode,
)
from parquet_go_spark.kernels.rle import rle_decode, rle_encode

RNG = np.random.default_rng(42)


# ---------- bitpack ----------

@pytest.mark.parametrize("width", [1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64])
def test_pack_unpack_widths(width):
    n = 1000
    maxv = (1 << width) - 1
    v = RNG.integers(0, maxv, n, dtype=np.uint64, endpoint=True)
    out = unpack_bits(pack_bits(v, width), n, width)
    np.testing.assert_array_equal(out, v)


def test_pack_empty_and_zero_width():
    assert pack_bits(np.zeros(0, np.uint64), 5) == b""
    assert pack_bits(np.zeros(10, np.uint64), 0) == b""
    np.testing.assert_array_equal(unpack_bits(b"", 10, 0), np.zeros(10, np.uint64))


# Per-bit oracle: the (n, width) bit-matrix kernels the word-level ones
# replaced. Pinning pack output to it byte for byte catches a packer that
# round-trips with its own unpacker but writes a different stream.

def _oracle_bitstart(counts, width):
    pay = (counts * width + 7) // 8
    byte_off = np.concatenate([[0], np.cumsum(pay)])
    ccum = np.concatenate([[0], np.cumsum(counts)])
    idx_in = np.arange(ccum[-1]) - np.repeat(ccum[:-1], counts)
    return np.repeat(byte_off[:-1], counts) * 8 + idx_in * width, byte_off[-1]


def _oracle_pack(v, width, counts=None):
    if counts is None:
        counts = np.array([len(v)], np.int64)
    if width == 0 or len(v) == 0:
        return b""
    bitstart, nbytes = _oracle_bitstart(counts, width)
    bitbuf = np.zeros(nbytes * 8, np.uint8)
    for j in range(width):
        bitbuf[bitstart + j] = (v >> np.uint64(j)).astype(np.uint8) & 1
    return np.packbits(bitbuf, bitorder="little").tobytes()


def _oracle_unpack(buf, width, counts):
    if width == 0 or counts.sum() == 0:
        return np.zeros(int(counts.sum()), np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, np.uint8), bitorder="little")
    bitstart, _ = _oracle_bitstart(counts, width)
    out = np.zeros(len(bitstart), np.uint64)
    for j in range(width):
        out |= bits[bitstart + j].astype(np.uint64) << np.uint64(j)
    return out


_IDENTITY_NS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 63, 64, 65, 127, 128, 129,
                999, 4097]


def _values(rng, n, width):
    if width == 0:
        return np.zeros(n, np.uint64)
    return rng.integers(0, (1 << width) - 1, n, dtype=np.uint64,
                        endpoint=True)


@pytest.mark.parametrize("width", range(65))
def test_pack_bits_matches_per_bit_oracle(width):
    rng = np.random.default_rng(width)
    for n in _IDENTITY_NS:
        v = _values(rng, n, width)
        packed = pack_bits(v, width)
        assert packed == _oracle_pack(v, width), (n, width)
        np.testing.assert_array_equal(
            _oracle_unpack(packed, width, np.array([n])), v)
        for buf in (packed, np.frombuffer(packed, np.uint8)):
            np.testing.assert_array_equal(unpack_bits(buf, n, width), v)


@pytest.mark.parametrize("width", range(65))
def test_pack_bits_segmented_matches_per_bit_oracle(width):
    rng = np.random.default_rng(1000 + width)
    for _ in range(6):
        counts = rng.integers(0, 70, int(rng.integers(1, 40)))
        v = _values(rng, int(counts.sum()), width)
        packed = pack_bits_segmented(v, counts, width)
        assert packed == _oracle_pack(v, width, counts), (counts, width)
        for buf in (packed, np.frombuffer(packed, np.uint8)):
            np.testing.assert_array_equal(
                unpack_bits_segmented(buf, counts, width), v)


def test_unpack_short_payload_reads_zeros():
    """Bits past the end of the payload read as 0 — an empty payload
    gives zeros, and a stream cut mid-value keeps its whole values."""
    np.testing.assert_array_equal(unpack_bits(b"", 10, 5), np.zeros(10))
    np.testing.assert_array_equal(
        unpack_bits_segmented(np.zeros(0, np.uint8), np.array([3, 4]), 9),
        np.zeros(7))
    v = _values(np.random.default_rng(7), 100, 13)
    cut = pack_bits(v, 13)[:50]
    want = _oracle_unpack(cut + bytes(200), 13, np.array([100]))
    np.testing.assert_array_equal(unpack_bits(cut, 100, 13), want)
    np.testing.assert_array_equal(want[:30], v[:30])
    np.testing.assert_array_equal(want[31:], np.zeros(69))


def test_bit_width():
    assert bit_width(0) == 0
    assert bit_width(1) == 1
    assert bit_width(255) == 8
    assert bit_width(256) == 9


def test_varint_roundtrip():
    v = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    enc = uleb128_encode_array(v)
    np.testing.assert_array_equal(uleb128_decode_stream(enc), v)


@given(hst.lists(hst.integers(0, 2**64 - 1), max_size=200))
@settings(max_examples=50, deadline=None)
def test_varint_property(xs):
    v = np.array(xs, dtype=np.uint64)
    np.testing.assert_array_equal(uleb128_decode_stream(uleb128_encode_array(v)), v)


# ---------- RLE hybrid ----------

def _rle_rt(v):
    out = rle_decode(rle_encode(v))
    np.testing.assert_array_equal(out, np.asarray(v, dtype=np.uint64))


def test_rle_empty():
    _rle_rt(np.zeros(0, np.uint64))


def test_rle_single():
    _rle_rt(np.array([7], np.uint64))


def test_rle_const():
    _rle_rt(np.full(100_000, 42, np.uint64))


def test_rle_all_distinct():
    v = RNG.permutation(np.arange(10_000, dtype=np.uint64))
    _rle_rt(v)


def test_rle_mixed_runs():
    # alternating long runs and literal stretches
    parts = []
    for i in range(50):
        parts.append(np.full(RNG.integers(1, 30), i, np.uint64))
    _rle_rt(np.concatenate(parts))


def test_rle_const_is_small():
    v = np.full(100_000, 3, np.uint64)
    assert len(rle_encode(v)) < 40  # one run header + one value


@given(hst.lists(hst.integers(0, 2**40), max_size=500))
@settings(max_examples=50, deadline=None)
def test_rle_property(xs):
    _rle_rt(np.array(xs, dtype=np.uint64))


# ---------- FOR / delta ----------

@pytest.mark.parametrize("v", [
    np.zeros(0, np.int64),
    np.array([5], np.int64),
    np.array([-(2**63), 2**63 - 1], np.int64),          # extreme span, wrap-safe
    RNG.integers(-(2**31), 2**31, 1000).astype(np.int64),
    np.cumsum(RNG.integers(0, 100, 5000)).astype(np.int64),  # sorted+jitter
])
def test_for_roundtrip(v):
    np.testing.assert_array_equal(for_decode(for_encode(v)), v)


@pytest.mark.parametrize("v", [
    np.zeros(0, np.int64),
    np.array([-7], np.int64),
    np.array([-(2**63), 2**63 - 1, 0, -1], np.int64),
    np.cumsum(RNG.integers(1, 120, 10_000)).astype(np.int64),  # ts-like
])
def test_delta_roundtrip(v):
    np.testing.assert_array_equal(delta_decode(delta_encode(v)), v)


def test_delta_sorted_is_compact():
    v = np.cumsum(RNG.integers(1, 120, 40_000)).astype(np.int64)  # deltas < 7 bits
    assert len(delta_encode(v)) < 40_000 * 1.1  # ~7 bits/value vs 64 plain


@given(hst.lists(hst.integers(-(2**63), 2**63 - 1), max_size=300))
@settings(max_examples=50, deadline=None)
def test_delta_property(xs):
    v = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(delta_decode(delta_encode(v)), v)
    np.testing.assert_array_equal(for_decode(for_encode(v)), v)


# ---------- strings / bss / bool ----------

def test_str_roundtrip():
    strs = ["", "a", "abcd1234", "x" * 10_000, "αβγδε", "conv-00000001"]
    data = "".join(strs).encode()
    lengths = np.array([len(s.encode()) for s in strs], np.int64)
    offsets, out = str_decode(str_encode(lengths, np.frombuffer(data, np.uint8)))
    np.testing.assert_array_equal(np.diff(offsets), lengths)
    assert out.tobytes() == data


def test_bss_roundtrip():
    v = RNG.normal(size=1000)
    np.testing.assert_array_equal(bss_decode(bss_encode(v), 1000, np.float64), v)
    v32 = RNG.normal(size=777).astype(np.float32)
    np.testing.assert_array_equal(bss_decode(bss_encode(v32), 777, np.float32), v32)


def test_bool_roundtrip():
    v = RNG.random(1001) < 0.5
    np.testing.assert_array_equal(bool_decode(bool_encode(v), 1001), v)


def test_pfor_roundtrip_with_outliers():
    from parquet_go_spark.kernels.pfor import pfor_decode, pfor_encode

    rng = np.random.default_rng(0)
    v = rng.integers(0, 100, 5000)
    v[rng.integers(0, 5000, 50)] = rng.integers(2**40, 2**50, 50)
    blob = pfor_encode(v)
    assert np.array_equal(pfor_decode(blob), v)
    # outliers must not blow up the width: ~7 bits/value + exceptions
    assert len(blob) < 5000 * 2


def test_pfor_edges():
    from parquet_go_spark.kernels.pfor import pfor_decode, pfor_encode

    for v in ([], [0], [2**62, -2**62], [5] * 100, list(range(64))):
        a = np.array(v, dtype=np.int64)
        assert np.array_equal(pfor_decode(pfor_encode(a)), a)


@settings(max_examples=80, deadline=None)
@given(
    hst.lists(hst.integers(min_value=-(2**63), max_value=2**63 - 1),
              max_size=300)
)
def test_pfor_property(values):
    from parquet_go_spark.kernels.pfor import pfor_decode, pfor_encode

    a = np.array(values, dtype=np.int64)
    assert np.array_equal(pfor_decode(pfor_encode(a)), a)
