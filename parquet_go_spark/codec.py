"""Self-describing encoded-blob container over pyarrow arrays.

This is the engine's analogue of a Parquet *page* + ColumnMetaData
(parquet.thrift:797-831, 875-940): one blob = one column chunk, carrying
its own codec id, dtype, value count, optional validity section, and an
optional entropy second stage (encoding ⊥ compression, exactly as in
Parquet). The reference's per-encoding Go paths are re-expressed as the
numpy kernels in ``kernels/``.

Blob layout (little-endian):

    u8 version=1 | u8 dtype | u8 codec | u8 entropy | u64 n | u64 raw_len
    [entropy-compressed payload]

payload:

    u8 has_nulls | [u64 n_valid | u32 mask_len | rle(validity bits)]
    codec body over the non-null values

The null section is written only by ``validity_section`` and parsed only
by ``read_validity``; the shredded nested shells (``shred.py``) reuse it.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .kernels.bitpack import bit_width
from .kernels.delta import delta_decode, delta_encode, for_decode, for_encode
from .kernels.plain import (
    bool_decode,
    bool_encode,
    bss_decode,
    bss_encode,
    str_decode,
    str_encode,
)
from .kernels.rle import rle_decode, rle_encode

__all__ = ["encode_array", "decode_array", "content_crc", "validity_section",
           "read_validity", "expand_nulls", "CODECS", "ENTROPIES"]

_HDR = struct.Struct("<BBBBQQ")

# dtype codes
_DT_INT32, _DT_INT64, _DT_F32, _DT_F64, _DT_STR, _DT_BOOL = 1, 2, 3, 4, 5, 6
_DT_TS_UTC, _DT_TS_NAIVE, _DT_DATE32, _DT_INT16, _DT_INT8 = 7, 8, 9, 10, 11
_DT_LIST_F32, _DT_LIST_F64 = 12, 13
_DT_BIN, _DT_DEC128 = 14, 15
# generic nested containers (SURVEY §2.5 L2, parquet.thrift:183-192):
# offsets/validity at each level + recursive self-describing child blobs,
# the Spark-side equivalent of Dremel def/rep levels
_DT_LIST, _DT_STRUCT, _DT_MAP = 16, 17, 18
_NESTED_DTS = (_DT_LIST, _DT_STRUCT, _DT_MAP)
# unsigned + half-float surface (parquet.thrift:471-497 uint logical
# types; FLOAT16 per the 2.10 spec addition). Unsigned values ride the
# int64 kernels via wrap-safe two's-complement views — uint64 above
# 2^63 wraps on encode and wraps back on decode, bit-exact.
_DT_U8, _DT_U16, _DT_U32, _DT_U64, _DT_F16 = 19, 20, 21, 22, 23
# FIXED_LEN_BYTE_ARRAY (parquet.thrift:32-41; carries UUID / INTERVAL /
# FLOAT16-as-FLBA logical types): fixed width, byte-plane transposed
_DT_FSB = 24

# codec codes
_C_PLAIN, _C_PLAIN_STR, _C_DICT, _C_RLE, _C_DELTA, _C_FOR, _C_BSS, _C_FSST, _C_BOOL = (
    1, 2, 3, 4, 5, 6, 7, 8, 9,
)
_C_PREFIX = 10
_C_PFOR, _C_DELTAP = 11, 12
_C_ALP = 13

CODECS = {
    "plain": _C_PLAIN, "dict": _C_DICT, "rle": _C_RLE, "delta": _C_DELTA,
    "for": _C_FOR, "bss": _C_BSS, "fsst": _C_FSST, "prefix": _C_PREFIX,
    "pfor": _C_PFOR, "deltap": _C_DELTAP, "alp": _C_ALP,
}

ENTROPIES = {"none": 0, "zlib": 1, "zstd": 2}

# level 9: ~8% smaller than pyarrow's default level 1 on FSST output at
# ~25 ms/MB — negligible next to the encode kernels; decode speed is
# unaffected (zstd decompression is level-independent)
ZSTD_LEVEL = 9
_zstd = pa.Codec("zstd", compression_level=ZSTD_LEVEL)


def _dtype_code(t: pa.DataType) -> int:
    if pa.types.is_int32(t):
        return _DT_INT32
    if pa.types.is_int64(t):
        return _DT_INT64
    if pa.types.is_float32(t):
        return _DT_F32
    if pa.types.is_float64(t):
        return _DT_F64
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _DT_STR
    if pa.types.is_boolean(t):
        return _DT_BOOL
    if pa.types.is_timestamp(t):
        return _DT_TS_UTC if t.tz else _DT_TS_NAIVE
    if pa.types.is_date32(t):
        return _DT_DATE32
    if pa.types.is_int16(t):
        return _DT_INT16
    if pa.types.is_int8(t):
        return _DT_INT8
    if (pa.types.is_list(t) or pa.types.is_large_list(t)) and pa.types.is_float32(
        t.value_type
    ):
        return _DT_LIST_F32
    if (pa.types.is_list(t) or pa.types.is_large_list(t)) and pa.types.is_float64(
        t.value_type
    ):
        return _DT_LIST_F64
    if pa.types.is_fixed_size_binary(t):
        return _DT_FSB
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return _DT_BIN
    if pa.types.is_decimal128(t):
        return _DT_DEC128
    if pa.types.is_uint8(t):
        return _DT_U8
    if pa.types.is_uint16(t):
        return _DT_U16
    if pa.types.is_uint32(t):
        return _DT_U32
    if pa.types.is_uint64(t):
        return _DT_U64
    if pa.types.is_float16(t):
        return _DT_F16
    if pa.types.is_map(t):
        return _DT_MAP
    if pa.types.is_struct(t):
        return _DT_STRUCT
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _DT_LIST
    raise TypeError(f"unsupported arrow type: {t}")


_ARROW_TYPES = {
    _DT_INT32: pa.int32(), _DT_INT64: pa.int64(), _DT_F32: pa.float32(),
    _DT_F64: pa.float64(), _DT_STR: pa.string(), _DT_BOOL: pa.bool_(),
    _DT_TS_UTC: pa.timestamp("us", tz="UTC"), _DT_TS_NAIVE: pa.timestamp("us"),
    _DT_DATE32: pa.date32(), _DT_INT16: pa.int16(), _DT_INT8: pa.int8(),
    _DT_LIST_F32: pa.list_(pa.float32()), _DT_LIST_F64: pa.list_(pa.float64()),
    _DT_BIN: pa.binary(),  # decimal128 type is rebuilt from body params
    _DT_U8: pa.uint8(), _DT_U16: pa.uint16(), _DT_U32: pa.uint32(),
    _DT_U64: pa.uint64(), _DT_F16: pa.float16(),
}
_NUMPY_TYPES = {
    _DT_INT32: np.int32, _DT_INT64: np.int64, _DT_F32: np.float32,
    _DT_F64: np.float64, _DT_TS_UTC: np.int64, _DT_TS_NAIVE: np.int64,
    _DT_DATE32: np.int32, _DT_INT16: np.int16, _DT_INT8: np.int8,
    _DT_U8: np.uint8, _DT_U16: np.uint16, _DT_U32: np.uint32,
    _DT_U64: np.uint64, _DT_F16: np.float16,
}


def _as_i64(v: np.ndarray) -> np.ndarray:
    """int64 form for the integer kernels: uint64 views wrap-safe
    (two's complement — decode wraps back bit-exactly), everything else
    widens losslessly."""
    if v.dtype == np.uint64:
        return v.view(np.int64)
    return v.astype(np.int64)


def _num_values(arr: pa.Array) -> np.ndarray:
    """Non-null numeric values as a numpy array (ints/floats/ts/date)."""
    a = arr.drop_null() if arr.null_count else arr
    t = a.type
    if pa.types.is_timestamp(t):
        a = a.cast(pa.int64())
    elif pa.types.is_date32(t):
        a = a.cast(pa.int32())
    return a.to_numpy(zero_copy_only=False)


def _str_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null strings/binary → (lengths:int64, data:uint8) contiguous."""
    a = arr.drop_null() if arr.null_count else arr
    if pa.types.is_binary(a.type) or pa.types.is_large_binary(a.type):
        a = a.cast(pa.large_binary())
    else:
        a = a.cast(pa.large_string())
    if len(a) == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.uint8)
    off = np.frombuffer(a.buffers()[1], np.int64, len(a) + 1, offset=a.offset * 8)
    data = np.frombuffer(a.buffers()[2], np.uint8)[off[0] : off[-1]]
    return np.diff(off), data


def _list_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null list<float> → (lengths:int64, flat values)."""
    a = arr.drop_null() if arr.null_count else arr
    a = a.cast(pa.large_list(a.type.value_type))
    if len(a) == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.uint8)
    off = np.frombuffer(a.buffers()[1], np.int64, len(a) + 1, offset=a.offset * 8)
    flat = a.flatten().to_numpy(zero_copy_only=False)
    return np.diff(off), flat


def _type_bytes(t: pa.DataType) -> bytes:
    """Arrow IPC serialization of a type (field names and large/normal
    list variants round-trip exactly)."""
    return pa.schema([pa.field("c", t)]).serialize().to_pybytes()


def _type_from_bytes(b) -> pa.DataType:
    return pa.ipc.read_schema(pa.py_buffer(bytes(b))).field(0).type


def _auto_encode(arr: pa.Array) -> bytes:
    """Recursive child blob: auto-select the codec from the child's own
    stats (a text field inside a struct still gets FSST+zstd)."""
    from .plan import choose_codec, profile_array

    c, e = choose_codec(profile_array(arr))
    return encode_array(arr, c, e)


def _offsets_lengths(a: pa.Array) -> np.ndarray:
    """Per-slot lengths of a (null-free) list/map array. Maps carry
    int32 offsets, large_list int64."""
    if len(a) == 0:
        return np.zeros(0, dtype=np.int64)
    if pa.types.is_map(a.type):
        off = np.frombuffer(a.buffers()[1], np.int32, len(a) + 1,
                            offset=a.offset * 4).astype(np.int64)
    else:
        off = np.frombuffer(a.buffers()[1], np.int64, len(a) + 1,
                            offset=a.offset * 8)
    return np.diff(off)


def _encode_nested(arr: pa.Array, dt: int) -> bytes:
    """Generic nested containers: stored type + per-level offsets
    (FOR-coded lengths) + recursive child blobs. Child values under a
    null parent are dropped (Dremel-equivalent: they are logically
    absent)."""
    a = arr.drop_null() if arr.null_count else arr
    tb = _type_bytes(arr.type)
    head = struct.pack("<I", len(tb)) + tb
    if dt == _DT_STRUCT:
        children = a.flatten()
        out = [head, struct.pack("<QH", len(a), len(children))]
        for child in children:
            blob = _auto_encode(child.combine_chunks()
                                if isinstance(child, pa.ChunkedArray)
                                else child)
            out.append(struct.pack("<I", len(blob)))
            out.append(blob)
        return b"".join(out)
    if dt == _DT_MAP:
        off = (
            np.frombuffer(a.buffers()[1], np.int32, len(a) + 1,
                          offset=a.offset * 4).astype(np.int64)
            if len(a)
            else np.zeros(1, dtype=np.int64)
        )
        lengths = np.diff(off)
        len_blob = for_encode(lengths)
        # .keys/.items are the raw children — slice to the logical range
        lo, hi = int(off[0]), int(off[-1])
        kblob = _auto_encode(a.keys.slice(lo, hi - lo))
        iblob = _auto_encode(a.items.slice(lo, hi - lo))
        return (
            head
            + struct.pack("<QI", len(a), len(len_blob)) + len_blob
            + struct.pack("<I", len(kblob)) + kblob
            + iblob
        )
    # generic list<T>
    al = a.cast(pa.large_list(a.type.value_field))
    lengths = _offsets_lengths(al)
    len_blob = for_encode(lengths)
    child = al.flatten()
    return (
        head
        + struct.pack("<QI", len(al), len(len_blob)) + len_blob
        + _auto_encode(child)
    )


def _decode_nested(body: memoryview, dt: int, n: int) -> pa.Array:
    (tlen,) = struct.unpack_from("<I", body, 0)
    typ = _type_from_bytes(body[4 : 4 + tlen])
    body = body[4 + tlen :]
    if dt == _DT_STRUCT:
        n_rows, n_children = struct.unpack_from("<QH", body, 0)
        pos = 10
        children = []
        for _ in range(n_children):
            (blen,) = struct.unpack_from("<I", body, pos)
            children.append(decode_array(body[pos + 4 : pos + 4 + blen]))
            pos += 4 + blen
        if n_rows == 0:
            return pa.array([], type=typ)
        # children keep their types (a timestamp decodes as UTC), one cast
        out = pa.StructArray.from_arrays(children, fields=[
            f.with_type(c.type) for f, c in zip(typ, children)])
        return out.cast(typ)
    if dt == _DT_MAP:
        n_rows, len_blob_len = struct.unpack_from("<QI", body, 0)
        lengths = for_decode(body[12 : 12 + len_blob_len])
        pos = 12 + len_blob_len
        (klen,) = struct.unpack_from("<I", body, pos)
        keys = decode_array(body[pos + 4 : pos + 4 + klen])
        items = decode_array(body[pos + 4 + klen :])
        offsets = np.zeros(n_rows + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        out = pa.MapArray.from_arrays(
            pa.array(offsets, type=pa.int32()), keys, items
        )
        return out.cast(typ)
    n_rows, len_blob_len = struct.unpack_from("<QI", body, 0)
    lengths = for_decode(body[12 : 12 + len_blob_len])
    child = decode_array(body[12 + len_blob_len :])
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    out = pa.LargeListArray.from_arrays(
        pa.array(offsets, type=pa.int64()), child
    )
    return out.cast(typ)


def _encode_values(arr: pa.Array, dt: int, codec: int,
                   cache: dict | None = None,
                   name: str | None = None) -> bytes:
    """Codec body over the non-null values of ``arr``."""
    if dt in _NESTED_DTS:
        return _encode_nested(arr, dt)
    if dt == _DT_FSB:
        # FLBA/UUID: byte-plane transpose (BYTE_STREAM_SPLIT applied to
        # fixed-width bytes, parquet.thrift:620-630) — plane-major
        # layout groups the low-entropy positions so the zstd stage
        # compresses them instead of seeing interleaved noise
        a = arr.drop_null() if arr.null_count else arr
        a = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
        w = a.type.byte_width
        raw = np.frombuffer(a.buffers()[1], np.uint8)[
            a.offset * w : (a.offset + len(a)) * w
        ]
        planes = np.ascontiguousarray(raw.reshape(-1, w).T)
        return struct.pack("<I", w) + planes.tobytes()
    if dt == _DT_DEC128:
        a = arr.drop_null() if arr.null_count else arr
        a = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
        buf = a.buffers()[1]
        raw = np.frombuffer(buf, np.uint8)[a.offset * 16 : (a.offset + len(a)) * 16]
        raw = np.ascontiguousarray(raw)
        # precision ≤ 18 → the unscaled value fits int64 (10^18 < 2^63):
        # take the low word of each 128-bit LE pair and PFOR it — the
        # decimal analogue of the ALP float upgrade, typically 5-10×
        # smaller than raw 16-byte values
        if a.type.precision <= 18 and len(a):
            lo = raw.view("<i8")[0::2]
            body = struct.pack("<BBB", a.type.precision, a.type.scale, 1)
            from .kernels.pfor import pfor_encode

            return body + pfor_encode(np.ascontiguousarray(lo))
        # precision > 18: PFOR the two int64 halves separately — the
        # high words are sign-extension constants for values that fit
        # well under 2^63 (the common case even at DECIMAL(38,x)), so
        # they collapse to near-zero bits instead of 8 raw bytes each
        if len(a):
            from .kernels.pfor import pfor_encode

            lo = np.ascontiguousarray(raw.view("<i8")[0::2])
            hi = np.ascontiguousarray(raw.view("<i8")[1::2])
            lo_blob = pfor_encode(lo)
            hi_blob = pfor_encode(hi)
            if len(lo_blob) + len(hi_blob) + 8 < raw.nbytes:
                return (
                    struct.pack("<BBBI", a.type.precision, a.type.scale,
                                2, len(lo_blob))
                    + lo_blob + hi_blob
                )
        return (
            struct.pack("<BBB", a.type.precision, a.type.scale, 0)
            + raw.tobytes()
        )
    if dt in (_DT_LIST_F32, _DT_LIST_F64):
        lengths, flat = _list_parts(arr)
        len_blob = for_encode(lengths)
        return (
            struct.pack("<QI", len(lengths), len(len_blob))
            + len_blob
            + np.ascontiguousarray(flat).tobytes()
        )
    if codec == _C_BOOL:
        a = arr.drop_null() if arr.null_count else arr
        return bool_encode(a.to_numpy(zero_copy_only=False))
    if codec == _C_PLAIN_STR:
        return str_encode(*_str_parts(arr))
    if codec == _C_FSST:
        from .kernels.fsst import fsst_encode

        return fsst_encode(*_str_parts(arr), cache=cache, cache_key=name)
    if codec == _C_PREFIX:
        from .kernels.prefix import prefix_encode

        return prefix_encode(*_str_parts(arr))
    if codec == _C_DICT:
        a = arr.drop_null() if arr.null_count else arr
        denc = a.dictionary_encode()
        dictionary, indices = denc.dictionary, denc.indices
        card = len(dictionary)
        sub = _C_PLAIN_STR if dt in (_DT_STR, _DT_BIN) else _C_PLAIN
        vblob = _encode_values(dictionary, dt, sub)
        idx = indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        width = bit_width(card - 1) if card > 1 else 0
        return (
            struct.pack("<QI", card, len(vblob)) + vblob + rle_encode(idx, width)
        )
    if codec == _C_ALP:
        from .kernels.alp import alp_encode

        a = arr.drop_null() if arr.null_count else arr
        return alp_encode(a.to_numpy(zero_copy_only=False))
    # numeric kernels
    v = _num_values(arr)
    if codec == _C_PLAIN:
        return np.ascontiguousarray(v).astype(v.dtype.newbyteorder("<")).tobytes()
    if codec == _C_DELTA:
        return delta_encode(_as_i64(v))
    if codec == _C_FOR:
        return for_encode(_as_i64(v))
    if codec == _C_PFOR:
        from .kernels.pfor import pfor_encode

        return pfor_encode(_as_i64(v))
    if codec == _C_DELTAP:
        from .kernels.pfor import pfor_encode

        v64 = _as_i64(v)
        if len(v64) == 0:
            return struct.pack("<Qq", 0, 0)
        u = v64.view(np.uint64)
        diffs = (u[1:] - u[:-1]).view(np.int64)  # wrap-safe
        return struct.pack("<Qq", len(v64), int(v64[0])) + pfor_encode(diffs)
    if codec == _C_RLE:
        v64 = _as_i64(v)
        ref = int(v64.min()) if len(v64) else 0
        shifted = (v64.view(np.uint64)
                   - np.int64(ref).astype(np.uint64))
        return struct.pack("<q", ref) + rle_encode(shifted)
    if codec == _C_BSS:
        return bss_encode(v)
    raise ValueError(f"unknown codec id {codec}")


def _decode_values(body: memoryview, dt: int, codec: int, n: int) -> pa.Array:
    if dt in _NESTED_DTS:
        return _decode_nested(body, dt, n)
    if dt == _DT_FSB:
        (w,) = struct.unpack_from("<I", body, 0)
        planes = np.frombuffer(body, np.uint8, count=n * w, offset=4)
        raw = np.ascontiguousarray(planes.reshape(w, n).T)
        return pa.Array.from_buffers(
            pa.binary(w), n, [None, pa.py_buffer(raw.tobytes())]
        )
    if dt == _DT_DEC128:
        precision, scale, packed = struct.unpack_from("<BBB", body, 0)
        if packed == 1:
            from .kernels.pfor import pfor_decode

            lo = pfor_decode(body[3:])
            raw = np.zeros((n, 2), dtype=np.int64)
            raw[:, 0] = lo
            raw[:, 1] = lo >> 63  # sign-extend the high word
            buf = pa.py_buffer(np.ascontiguousarray(raw).tobytes())
        elif packed == 2:  # two-halves pack (precision > 18)
            from .kernels.pfor import pfor_decode

            (lo_len,) = struct.unpack_from("<I", body, 3)
            lo = pfor_decode(body[7 : 7 + lo_len])
            hi = pfor_decode(body[7 + lo_len :])
            raw = np.empty((n, 2), dtype=np.int64)
            raw[:, 0] = lo
            raw[:, 1] = hi
            buf = pa.py_buffer(np.ascontiguousarray(raw).tobytes())
        else:
            buf = pa.py_buffer(bytes(body[3 : 3 + 16 * n]))
        return pa.Array.from_buffers(
            pa.decimal128(precision, scale), n, [None, buf]
        )
    atype = _ARROW_TYPES[dt]
    if dt in (_DT_LIST_F32, _DT_LIST_F64):
        n_lists, len_blob_len = struct.unpack_from("<QI", body, 0)
        lengths = for_decode(body[12 : 12 + len_blob_len])
        offsets = np.zeros(n_lists + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        vt = np.float32 if dt == _DT_LIST_F32 else np.float64
        flat = np.frombuffer(body, vt, offset=12 + len_blob_len)
        arr = pa.Array.from_buffers(
            pa.large_list(atype.value_type), n_lists,
            [None, pa.py_buffer(np.ascontiguousarray(offsets).tobytes())],
            children=[pa.array(flat, type=atype.value_type)],
        )
        return arr.cast(atype)
    if codec == _C_BOOL:
        return pa.array(bool_decode(body, n), type=pa.bool_())
    if codec in (_C_PLAIN_STR, _C_FSST, _C_PREFIX):
        if codec == _C_FSST:
            from .kernels.fsst import fsst_decode

            offsets, data = fsst_decode(body)
        elif codec == _C_PREFIX:
            from .kernels.prefix import prefix_decode

            offsets, data = prefix_decode(body)
        else:
            offsets, data = str_decode(body)
        vtype = pa.large_binary() if dt == _DT_BIN else pa.large_string()
        arr = pa.Array.from_buffers(
            vtype, n,
            [None, pa.py_buffer(np.ascontiguousarray(offsets).tobytes()),
             pa.py_buffer(np.ascontiguousarray(data).tobytes())],
        )
        return arr.cast(_ARROW_TYPES[dt])
    if codec == _C_DICT:
        card, vlen = struct.unpack_from("<QI", body, 0)
        sub = _C_PLAIN_STR if dt in (_DT_STR, _DT_BIN) else _C_PLAIN
        values = _decode_values(body[12 : 12 + vlen], dt, sub, card)
        idx = rle_decode(body[12 + vlen :]).astype(np.int32)
        if len(idx) != n:
            raise ValueError("dict index count mismatch")
        return pa.DictionaryArray.from_arrays(
            pa.array(idx, type=pa.int32()), values
        ).cast(atype)
    npt = np.dtype(_NUMPY_TYPES[dt])
    if codec == _C_ALP:
        from .kernels.alp import alp_decode

        return pa.array(alp_decode(body).astype(npt), type=atype)
    if codec == _C_PLAIN:
        v = np.frombuffer(body, npt.newbyteorder("<"), count=n).astype(npt)
    elif codec == _C_DELTA:
        v = delta_decode(body).astype(npt)
    elif codec == _C_FOR:
        v = for_decode(body).astype(npt)
    elif codec == _C_RLE:
        (ref,) = struct.unpack_from("<q", body, 0)
        v = (rle_decode(body[8:]) + np.int64(ref).astype(np.uint64)).view(
            np.int64
        ).astype(npt)
    elif codec == _C_BSS:
        v = bss_decode(body, n, npt)
    elif codec == _C_PFOR:
        from .kernels.pfor import pfor_decode

        v = pfor_decode(body).astype(npt)
    elif codec == _C_DELTAP:
        from .kernels.pfor import pfor_decode

        n2, first = struct.unpack_from("<Qq", body, 0)
        if n2 == 0:
            v = np.zeros(0, dtype=npt)
        else:
            diffs = pfor_decode(body[16:])
            out = np.empty(n2, dtype=np.uint64)
            out[0] = np.int64(first).view(np.uint64)
            if n2 > 1:
                out[1:] = out[0] + np.cumsum(diffs.view(np.uint64))
            v = out.view(np.int64).astype(npt)
    else:
        raise ValueError(f"unknown codec id {codec}")
    if dt in (_DT_TS_UTC, _DT_TS_NAIVE, _DT_DATE32):
        return pa.array(v, type=_ARROW_TYPES[{_DT_TS_UTC: _DT_INT64,
                                              _DT_TS_NAIVE: _DT_INT64,
                                              _DT_DATE32: _DT_INT32}[dt]]).cast(atype)
    return pa.array(v, type=atype)


def validity_section(arr: pa.Array) -> bytes:
    """The null section of a blob payload (and of every shred shell):
    ``u8 0`` when ``arr`` has no nulls, else
    ``u8 1 | u64 n_valid | u32 mask_len | rle(validity bits)``."""
    if not arr.null_count:
        return b"\x00"
    valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint64)
    mask = rle_encode(valid, 1)
    return struct.pack("<BQI", 1, len(arr) - arr.null_count, len(mask)) + mask


def read_validity(mv: memoryview, pos: int, n: int):
    """Parse a :func:`validity_section` of ``n`` slots at ``pos`` →
    (bool mask or None when there are no nulls, n_valid, end pos)."""
    if not mv[pos]:
        return None, n, pos + 1
    n_valid, mask_len = struct.unpack_from("<QI", mv, pos + 1)
    pos += 13
    valid = rle_decode(mv[pos : pos + mask_len]).astype(bool)
    if len(valid) != n:
        raise ValueError(f"validity mask has {len(valid)} slots, expected {n}")
    return valid, n_valid, pos + mask_len


def expand_nulls(vals: pa.Array, valid) -> pa.Array:
    """Scatter the non-null ``vals`` back over the slots of ``valid``
    (None = no nulls). A take with a null index yields a null slot, so
    this is type-universal (nested struct/map/list too)."""
    if valid is None:
        return vals
    if len(vals) == 0:
        return pa.nulls(len(valid), vals.type)
    idx = np.zeros(len(valid), dtype=np.int64)
    idx[valid] = np.arange(len(vals))
    return vals.take(pa.array(idx, type=pa.int64(), mask=~valid))


def encode_array(arr: pa.Array, codec: str, entropy: str = "none",
                 cache: dict | None = None,
                 name: str | None = None) -> bytes:
    """Encode one column chunk (a pyarrow Array) into a self-describing blob."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dt = _dtype_code(arr.type)
    cid = CODECS[codec]
    if cid == _C_PLAIN and dt in (_DT_STR, _DT_BIN):
        cid = _C_PLAIN_STR
    if cid == _C_PLAIN and dt == _DT_BOOL:
        cid = _C_BOOL
    n = len(arr)

    payload = validity_section(arr) + _encode_values(arr, dt, cid, cache, name)
    eid = ENTROPIES[entropy]
    raw_len = len(payload)
    if eid == 1:
        payload = zlib.compress(payload, 6)
    elif eid == 2:
        payload = _zstd.compress(payload, asbytes=True)
    return _HDR.pack(1, dt, cid, eid, n, raw_len) + payload


def decode_array(blob: bytes | memoryview) -> pa.Array:
    """Inverse of :func:`encode_array`."""
    version, dt, cid, eid, n, raw_len = _HDR.unpack_from(blob, 0)
    if version != 1:
        raise ValueError(f"bad blob version {version}")
    if eid not in (0, 1, 2):
        raise ValueError(f"unknown entropy codec id {eid}")
    payload = bytes(memoryview(blob)[_HDR.size :])
    if eid == 1:
        payload = zlib.decompress(payload)
    elif eid == 2:
        payload = _zstd.decompress(payload, raw_len, asbytes=True)
    mv = memoryview(payload)
    valid, n_valid, pos = read_validity(mv, 0, n)
    return expand_nulls(_decode_values(mv[pos:], dt, cid, n_valid), valid)


def content_crc(arr: pa.Array, crc: int = 0) -> int:
    """Canonical content hash of one column chunk: CRC32 chained over
    the dtype code, row count, validity mask and values in a
    type-canonical byte layout (the same buffers the plain codec
    serializes). This is the cheap memcpy-speed fingerprint the resume
    path compares before reusing a committed chunk — unlike key-range
    min/max it detects *value* changes in non-key columns
    (VERDICT r1 "resume can silently serve stale data")."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dt = _dtype_code(arr.type)
    crc = zlib.crc32(struct.pack("<BQ", dt, len(arr)), crc)
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        crc = zlib.crc32(np.packbits(valid), crc)
    if dt == _DT_DEC128:
        a = arr.drop_null() if arr.null_count else arr
        buf = a.buffers()[1]
        raw = np.frombuffer(buf, np.uint8)[a.offset * 16 : (a.offset + len(a)) * 16]
        return zlib.crc32(np.ascontiguousarray(raw), crc)
    if dt == _DT_FSB:
        a = arr.drop_null() if arr.null_count else arr
        w = a.type.byte_width
        raw = np.frombuffer(a.buffers()[1], np.uint8)[
            a.offset * w : (a.offset + len(a)) * w
        ]
        return zlib.crc32(np.ascontiguousarray(raw), crc)
    if dt in (_DT_LIST_F32, _DT_LIST_F64):
        lengths, flat = _list_parts(arr)
        crc = zlib.crc32(np.ascontiguousarray(lengths), crc)
        return zlib.crc32(np.ascontiguousarray(flat), crc)
    if dt in _NESTED_DTS:
        a = arr.drop_null() if arr.null_count else arr
        if dt == _DT_STRUCT:
            for child in a.flatten():
                crc = content_crc(child, crc)
            return crc
        if dt == _DT_MAP:
            lengths = _offsets_lengths(a)
            crc = zlib.crc32(np.ascontiguousarray(lengths), crc)
            if len(a):
                off = np.frombuffer(a.buffers()[1], np.int32, len(a) + 1,
                                    offset=a.offset * 4).astype(np.int64)
                lo, hi = int(off[0]), int(off[-1])
                crc = content_crc(a.keys.slice(lo, hi - lo), crc)
                crc = content_crc(a.items.slice(lo, hi - lo), crc)
            return crc
        al = a.cast(pa.large_list(a.type.value_field))
        lengths = _offsets_lengths(al)
        crc = zlib.crc32(np.ascontiguousarray(lengths), crc)
        return content_crc(al.flatten(), crc)
    if dt in (_DT_STR, _DT_BIN):
        lengths, data = _str_parts(arr)
        crc = zlib.crc32(np.ascontiguousarray(lengths), crc)
        return zlib.crc32(np.ascontiguousarray(data), crc)
    if dt == _DT_BOOL:
        a = arr.drop_null() if arr.null_count else arr
        return zlib.crc32(np.packbits(a.to_numpy(zero_copy_only=False)), crc)
    v = _num_values(arr)
    return zlib.crc32(np.ascontiguousarray(v), crc)

