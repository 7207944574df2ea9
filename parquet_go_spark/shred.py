"""Shredded nested columns: the one writer and reader of shell blobs.

A top-level struct, list<struct> (or large_list<struct>) or
map<string,V> column is stored Dremel-style (parquet.thrift:183-192):
one *shell* blob plus one self-describing codec blob per struct field
or map key, each its own parquet column of the chunk file (``b_<col>``
and ``b_<col>.<child>``). ``read_table(columns=["col.child"])`` then
reads only the shell and that child's bytes.

Shell layout (little-endian). ``validity`` is ``codec.validity_section``,
the same null section every codec blob payload starts with:

    u8 kind | u64 n | validity(rows) | u32 tlen | arrow IPC type
    kind 1 (struct): nothing more
    kind 2 (list):   u32 olen | offsets blob | validity(elements)
    kind 3 (map):    u32 olen | offsets blob
                     | u16 n_keys | u32 kd_len | (u16 len | utf8 key)*
                     | u32 ilen | key-index blob

The offsets blob is a PFOR int64 blob of n+1 offsets over ALL rows (a
null row spans 0 entries), so either one child or the whole column can
be rebuilt. Child blobs hold the values under non-null parents (struct)
or non-null elements (list). Map keys are sorted; the key-index blob is
the dict-coded int32 stream naming each entry's key, and a key's blob
holds its values in entry order, so duplicate keys and per-row key
order round-trip exactly.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codec import (
    _type_bytes,
    _type_from_bytes,
    decode_array,
    encode_array,
    expand_nulls,
    read_validity,
    validity_section,
)
from .plan import choose_codec, profile_array

__all__ = ["shred", "unshred", "child_columns", "MAP_SHRED_MAX_KEYS"]

_STRUCT, _LIST, _MAP = 1, 2, 3
_CODECS = {_STRUCT: "struct_shred", _LIST: "list_shred", _MAP: "map_shred"}

# Map shredding guard: per-key value blobs only make sense for the
# bounded-key-set telemetry shape (attrs maps with a handful of fixed
# keys). High-cardinality or unruly keys fall back to the generic
# nested codec — correctness is identical, only projection I/O differs.
MAP_SHRED_MAX_KEYS = 32
_MAP_KEY_OK = re.compile(r"[A-Za-z0-9_\-]{1,64}\Z")


def _kind(t: pa.DataType) -> int | None:
    if pa.types.is_struct(t):
        return _STRUCT
    if ((pa.types.is_list(t) or pa.types.is_large_list(t))
            and pa.types.is_struct(t.value_type)):
        return _LIST
    if pa.types.is_map(t) and (pa.types.is_string(t.key_type)
                               or pa.types.is_large_string(t.key_type)):
        return _MAP
    return None


def _sized(b: bytes, fmt: str = "<I") -> bytes:
    return struct.pack(fmt, len(b)) + b


def _unsized(mv: memoryview, pos: int, fmt: str = "<I"):
    (ln,) = struct.unpack_from(fmt, mv, pos)
    pos += struct.calcsize(fmt)
    return mv[pos : pos + ln], pos + ln


def _offsets_blob(arr: pa.Array) -> bytes:
    """Offsets over ALL rows of a list or map array; a null row spans 0
    entries (its extent in the arrow buffers may be garbage)."""
    n = len(arr)
    offs = np.zeros(n + 1, np.int64)
    if n:
        w = np.int64 if pa.types.is_large_list(arr.type) else np.int32
        raw = np.frombuffer(arr.buffers()[1], w, n + 1,
                            offset=arr.offset * np.dtype(w).itemsize)
        lens = np.diff(raw.astype(np.int64))
        if arr.null_count:
            lens[~arr.is_valid().to_numpy(zero_copy_only=False)] = 0
        np.cumsum(lens, out=offs[1:])
    return _sized(encode_array(pa.array(offs, pa.int64()), "pfor", "none"))


def _fields(a: pa.Array, st: pa.StructType) -> list:
    """(name, child) of a null-free struct array."""
    children = a.flatten() if len(a) else [
        pa.array([], st.field(i).type) for i in range(st.num_fields)
    ]
    return [(st.field(i).name, c) for i, c in enumerate(children)]


def _map_tail(arr: pa.MapArray):
    """Shell tail + per-key value arrays, or None when the chunk's keys
    are unsuitable (null keys, > MAP_SHRED_MAX_KEYS distinct, or names
    that don't fit a parquet column)."""
    a = arr.drop_null() if arr.null_count else arr
    if len(a):
        off = np.frombuffer(a.buffers()[1], np.int32, len(a) + 1,
                            offset=a.offset * 4)
        lo, hi = int(off[0]), int(off[-1])
        keys, items = a.keys.slice(lo, hi - lo), a.items.slice(lo, hi - lo)
    else:
        keys = pa.array([], arr.type.key_type)
        items = pa.array([], arr.type.item_type)
    if keys.null_count:
        return None
    uk = pc.unique(keys)
    if len(uk) > MAP_SHRED_MAX_KEYS:
        return None
    key_names = sorted(uk.to_pylist())
    if any(not _MAP_KEY_OK.match(k) for k in key_names):
        return None
    kd = b"".join(_sized(k.encode(), "<H") for k in key_names)
    kidx = pc.index_in(keys, value_set=pa.array(key_names, keys.type)) \
        .cast(pa.int32())
    tail = (_offsets_blob(arr) + struct.pack("<HI", len(key_names), len(kd))
            + kd + _sized(encode_array(kidx, "dict", "none")))
    ki = kidx.to_numpy(zero_copy_only=False)
    return tail, [(k, items.filter(pa.array(ki == i)))
                  for i, k in enumerate(key_names)]


def shred(arr: pa.Array) -> tuple[dict, dict] | None:
    """Shred a struct, list<struct> or map<string,V> column → ({suffix:
    blob} with "" = shell, column meta). None for every other type and
    for maps whose keys fail the guards (the generic codec takes them)."""
    kind = _kind(arr.type)
    if kind is None:
        return None
    if kind == _STRUCT:
        tail = b""
        named = _fields(arr.drop_null() if arr.null_count else arr, arr.type)
    elif kind == _LIST:
        elems = pc.list_flatten(arr)
        tail = _offsets_blob(arr) + validity_section(elems)
        named = _fields(elems.drop_null() if elems.null_count else elems,
                        arr.type.value_type)
    else:
        got = _map_tail(arr)
        if got is None:
            return None
        tail, named = got
    shell = (struct.pack("<BQ", kind, len(arr)) + validity_section(arr)
             + _sized(_type_bytes(arr.type)) + tail)
    blobs = {"": shell}
    children = {}
    for name, child in named:
        c, e = choose_codec(profile_array(child, name))
        blob = blobs[name] = encode_array(child, c, e)
        children[name] = {"codec": c, "entropy": e, "enc_bytes": len(blob),
                          "crc32": zlib.crc32(blob)}
    meta = {
        "codec": _CODECS[kind],
        "entropy": "none",
        "n": len(arr),
        "nulls": arr.null_count,
        "min": None,
        "max": None,
        "raw_bytes": int(arr.nbytes),
        "enc_bytes": sum(len(b) for b in blobs.values()),
        "crc32": zlib.crc32(shell),
        "children": children,
    }
    return blobs, meta


def child_columns(meta: dict, sub: str = "") -> list[str] | None:
    """Children (struct fields or map keys) whose blobs a read of the
    whole column (``sub`` = "") or of ``col.sub`` needs; None when the
    column is not shredded. A map key absent from the chunk needs none:
    it projects as all-null."""
    if meta.get("codec") not in _CODECS.values():
        return None
    return [k for k in meta["children"] if not sub or k == sub]


def _cast(arr: pa.Array, want: pa.DataType | None) -> pa.Array:
    return arr.cast(want) if want is not None and arr.type != want else arr


def _struct(st: pa.StructType, meta: dict, child, valid, count: int):
    kids = list(meta["children"])
    fields = [st.field(st.get_field_index(k)) for k in kids]
    arrays = [child(k) for k in kids]
    if count == 0 or (valid is not None and not valid.any()):
        return pa.nulls(count, pa.struct(fields))
    # children keep their types (a timestamp decodes as UTC); callers cast
    return expand_nulls(pa.StructArray.from_arrays(arrays, fields=[
        f.with_type(a.type) for f, a in zip(fields, arrays)]), valid)


def unshred(meta: dict, shell: bytes, child, sub: str = "",
            want: pa.DataType | None = None) -> pa.Array:
    """Rebuild a shredded column from its shell, or project one struct
    field / map key (``sub``). ``child(name)`` returns the decoded blob
    of one child; ``want`` is the type a list or map projection is cast
    to. A map key projects the value of its FIRST occurrence per row
    (pc.map_lookup parity), null where the key is absent."""
    mv = memoryview(shell)
    kind, n = struct.unpack_from("<BQ", mv, 0)
    valid, _, pos = read_validity(mv, 9, n)
    tb, pos = _unsized(mv, pos)
    typ = _type_from_bytes(tb)
    if kind == _STRUCT:
        if sub:
            return expand_nulls(child(sub), valid)
        return _struct(typ, meta, child, valid, n).cast(typ)
    ob, pos = _unsized(mv, pos)
    offs = decode_array(ob).to_numpy(zero_copy_only=False)
    omask = None if valid is None else np.append(~valid, False)
    if kind == _LIST:
        n_elems = int(offs[-1])
        evalid, _, _ = read_validity(mv, pos, n_elems)
        if sub:
            values = expand_nulls(child(sub), evalid)
        else:
            values = _struct(typ.value_type, meta, child, evalid, n_elems)
        la = pa.LargeListArray.from_arrays(
            pa.array(offs, pa.int64(), mask=omask), values)
        return _cast(la, want) if sub else la.cast(typ)
    n_keys, _ = struct.unpack_from("<HI", mv, pos)
    pos += 6
    key_names = []
    for _ in range(n_keys):
        k, pos = _unsized(mv, pos, "<H")
        key_names.append(bytes(k).decode())
    ib, _ = _unsized(mv, pos)
    kidx = decode_array(ib).to_numpy(zero_copy_only=False)
    if sub:
        if sub not in key_names:
            return pa.nulls(n, want if want is not None else typ.item_type)
        at = np.flatnonzero(kidx == key_names.index(sub))
        rows = np.searchsorted(offs, at, side="right") - 1
        hit, first = np.unique(rows, return_index=True)
        present = np.zeros(n, bool)
        present[hit] = True
        return _cast(expand_nulls(child(sub).take(pa.array(first)), present),
                     want)
    children = [child(k) for k in key_names]
    if len(kidx):
        rank = np.empty(len(kidx), np.int64)
        rank[np.argsort(kidx, kind="stable")] = np.arange(len(kidx))
        keys = pc.take(pa.array(key_names, typ.key_type),
                       pa.array(kidx, pa.int64()))
        items = pa.concat_arrays(children).take(pa.array(rank))
    else:
        keys = pa.array([], typ.key_type)
        items = pa.array([], typ.item_type)
    return pa.MapArray.from_arrays(
        pa.array(offs.astype(np.int32), pa.int32(), mask=omask), keys, items
    ).cast(typ)
