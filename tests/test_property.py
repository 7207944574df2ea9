"""Property-based round-trip invariants (hypothesis): any typed value
set the codec accepts must decode bit-identically under BOTH the
auto-selected codec and every forced kernel, with or without nulls."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codec import content_crc, decode_array, encode_array
from parquet_go_spark.plan import choose_codec, profile_array

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
SMALL = st.integers(min_value=-(2**40), max_value=2**40)


def _roundtrip(arr: pa.Array, codec=None) -> None:
    if codec is None:
        codec = choose_codec(profile_array(arr, "p"))
    blob = encode_array(arr, *codec)
    back = decode_array(blob)
    assert back.equals(arr), (codec, arr, back)
    assert content_crc(arr) == content_crc(back)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), I64), max_size=300))
def test_int64_all_kernels(vals):
    arr = pa.array(vals, pa.int64())
    _roundtrip(arr)
    for c in ("plain", "for", "delta", "pfor", "deltap", "rle", "dict"):
        _roundtrip(arr, (c, "none"))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), max_size=200))
def test_strings_all_kernels(vals):
    arr = pa.array(vals, pa.string())
    _roundtrip(arr)
    for c, e in (("plain", "zstd"), ("dict", "none"), ("fsst", "none"),
                 ("prefix", "zlib")):
        _roundtrip(arr, (c, e))


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.floats(allow_nan=False, allow_infinity=True, width=64)),
    max_size=200,
))
def test_doubles(vals):
    arr = pa.array(vals, pa.float64())
    _roundtrip(arr)
    _roundtrip(arr, ("bss", "zstd"))
    _roundtrip(arr, ("plain", "none"))


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.one_of(st.none(), st.lists(st.one_of(st.none(), SMALL), max_size=8)),
    max_size=60,
))
def test_nested_list_int(vals):
    arr = pa.array(vals, pa.list_(pa.int64()))
    _roundtrip(arr)


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.one_of(
        st.none(),
        st.fixed_dictionaries(
            {"a": st.one_of(st.none(), SMALL),
             "b": st.one_of(st.none(), st.text(max_size=12))}
        ),
    ),
    max_size=60,
))
def test_nested_struct(vals):
    arr = pa.array(
        vals, pa.struct([("a", pa.int64()), ("b", pa.string())])
    )
    _roundtrip(arr)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), st.booleans()), max_size=200))
def test_bools(vals):
    _roundtrip(pa.array(vals, pa.bool_()))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_uint64_wrap_safe(vals):
    arr = pa.array(np.array(vals, dtype=np.uint64), pa.uint64())
    _roundtrip(arr)
    for c in ("plain", "for", "pfor", "deltap"):
        _roundtrip(arr, (c, "none"))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(min_size=16, max_size=16)),
                max_size=120))
def test_fixed_size_binary(vals):
    _roundtrip(pa.array(vals, pa.binary(16)))
    _roundtrip(pa.array(vals, pa.binary(16)), ("plain", "zstd"))


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.integers(min_value=-(10**37), max_value=10**37)),
    max_size=120,
))
def test_wide_decimal38(vals):
    import decimal

    dv = [None if v is None else decimal.Decimal(v) for v in vals]
    _roundtrip(pa.array(dv, pa.decimal128(38, 0)))


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.fixed_dictionaries(
                    {"name": st.one_of(st.none(), st.text(max_size=10)),
                     "v": st.one_of(st.none(), SMALL)}
                ),
            ),
            max_size=5,
        ),
    ),
    max_size=50,
))
def test_list_of_struct_generic_codec(vals):
    """list<struct> through the generic recursive codec (the shredded
    path is exercised by the Spark-level tests; this pins the blob
    container round-trip for the same shape incl. null lists and null
    elements)."""
    arr = pa.array(
        vals,
        pa.list_(pa.struct([("name", pa.string()), ("v", pa.int64())])),
    )
    _roundtrip(arr)


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.tuples(
                st.sampled_from(["a", "bb", "c-3", "k_9", "weird.key"]),
                st.one_of(st.none(), SMALL),
            ),
            max_size=4,
        ),
    ),
    max_size=60,
))
def test_map_shred_property(vals, tmp_path_factory):
    """map<string,V> through the chunk layer: any key pattern —
    duplicates, null values, null/empty maps — must reconstruct
    bit-identically whether the chunk took the per-key shredded path or
    declined to the generic codec ('weird.key' forces the fallback),
    and per-key projection must equal a first-occurrence scan."""
    import os

    from parquet_go_spark import encode as E
    from parquet_go_spark.decode import make_decode_fn

    arr = pa.array(vals, pa.map_(pa.string(), pa.int64()))
    chunk = pa.table(
        {"id": pa.array(range(len(vals)), pa.int64()), "m": arr}
    )
    tdir = str(tmp_path_factory.mktemp("mapshred"))
    os.makedirs(os.path.join(tdir, "chunks"), exist_ok=True)
    entry = E._encode_or_reuse(chunk, "h00001", tdir, ("id",), {}, False,
                               (), "a0")
    batch = pa.RecordBatch.from_pydict(
        {"file": pa.array([os.path.join(tdir, entry["file"])])}
    )
    out = pa.Table.from_batches(
        list(make_decode_fn(["id", "m"])(iter([batch])))
    )
    got = out.column("m").combine_chunks()
    assert got.equals(arr), (entry["columns"]["m"]["codec"], got, arr)

    fn = make_decode_fn(["m.a"], column_types={"m.a": pa.int64()})
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    want = [
        (next((v for k, v in row if k == "a"), None)
         if row is not None and any(k == "a" for k, _ in row) else None)
        for row in vals
    ]
    assert out.column("m.a").to_pylist() == want


def _chunk_roundtrip(tdir, vals, typ, offset, sub, sub_type):
    """Encode ``vals`` (sliced at ``offset``, as encode_partition hands
    chunks over) through the chunk layer; decode it whole and project
    column ``m.<sub>``. Returns (input column, full decode, projection,
    column codec)."""
    import os

    from parquet_go_spark import encode as E
    from parquet_go_spark.decode import make_decode_fn

    table = pa.table({"id": pa.array(range(len(vals)), pa.int64()),
                      "m": pa.array(vals, typ)})
    chunk = table.slice(min(offset, len(vals)))
    os.makedirs(os.path.join(tdir, "chunks"), exist_ok=True)
    entry = E._encode_or_reuse(chunk, "s00001", tdir, ("id",), {}, False,
                               (), "a0")
    batch = pa.RecordBatch.from_pydict(
        {"file": pa.array([os.path.join(tdir, entry["file"])])}
    )
    full = pa.Table.from_batches(
        list(make_decode_fn(["id", "m"])(iter([batch])))
    ).column("m").combine_chunks()
    name = f"m.{sub}"
    proj = pa.Table.from_batches(list(make_decode_fn(
        [name], column_types={name: sub_type})(iter([batch]))))
    return (chunk.column("m").combine_chunks(), full,
            proj.column(name).to_pylist(), entry["columns"]["m"]["codec"])


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(
    st.one_of(
        st.none(),
        st.fixed_dictionaries({
            "a": st.one_of(st.none(), SMALL),
            "s": st.one_of(st.none(), st.text(max_size=8)),
        }),
    ),
    max_size=60,
), offset=st.integers(min_value=0, max_value=7))
def test_struct_shred_property(vals, offset, tmp_path_factory):
    """struct through the chunk layer: null structs and null fields,
    input sliced at a random offset, must decode bit-identically, and
    a field projection must equal the per-row field values."""
    typ = pa.struct([("a", pa.int64()), ("s", pa.string())])
    want, got, proj, codec = _chunk_roundtrip(
        str(tmp_path_factory.mktemp("structshred")), vals, typ, offset,
        "a", pa.int64())
    assert codec == "struct_shred"
    assert got.equals(want), (got, want)
    assert proj == [None if r is None else r["a"]
                    for r in vals[min(offset, len(vals)):]]


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.none(),
                st.fixed_dictionaries({
                    "name": st.one_of(st.none(),
                                      st.sampled_from(["get", "put", "ls"])),
                    "v": st.one_of(st.none(), SMALL),
                }),
            ),
            max_size=4,
        ),
    ),
    max_size=60,
), offset=st.integers(min_value=0, max_value=7), large=st.booleans())
def test_list_struct_shred_property(vals, offset, large, tmp_path_factory):
    """list<struct> and large_list<struct> through the chunk layer:
    null lists, empty lists and null elements, input sliced at a random
    offset, must decode bit-identically, and a child projection must
    equal the per-row list of that child (null under a null element)."""
    st_t = pa.struct([("name", pa.string()), ("v", pa.int64())])
    typ = pa.large_list(st_t) if large else pa.list_(st_t)
    want, got, proj, codec = _chunk_roundtrip(
        str(tmp_path_factory.mktemp("listshred")), vals, typ, offset,
        "name", pa.list_(pa.string()))
    assert codec == "list_shred"
    assert got.equals(want), (got, want)
    assert proj == [
        None if r is None else [None if e is None else e["name"] for e in r]
        for r in vals[min(offset, len(vals)):]
    ]
