"""Blob container round-trips over pyarrow arrays (codec.py) + selector."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.codec import decode_array, encode_array
from parquet_go_spark.plan import choose_codec, profile_array

RNG = np.random.default_rng(42)


def _rt(arr: pa.Array, codec: str, entropy: str = "none"):
    blob = encode_array(arr, codec, entropy)
    out = decode_array(blob)
    assert out.type == arr.type, (out.type, arr.type)
    assert out.equals(arr), f"{codec}/{entropy} mismatch"
    return blob


INT32 = pa.array(RNG.integers(-1000, 1000, 5000, dtype=np.int64).astype(np.int32),
                 type=pa.int32())
INT64 = pa.array(RNG.integers(-(2**40), 2**40, 5000, dtype=np.int64))
SORTED = pa.array(np.cumsum(RNG.integers(1, 120, 5000)).astype(np.int64))
DOUBLES = pa.array(RNG.normal(size=3000))
STRINGS = pa.array([f"conv-{i % 97:08d}" for i in range(4000)])
TEXT = pa.array(["word " * int(RNG.integers(3, 60)) + str(i) for i in range(500)])
BOOLS = pa.array(RNG.random(2001) < 0.3)
TS = pa.array(np.cumsum(RNG.integers(1, 120_000_000, 2000)).astype("datetime64[us]"),
              type=pa.timestamp("us", tz="UTC"))
TS_NAIVE = pa.array(np.cumsum(RNG.integers(1, 120_000_000, 2000)).astype("datetime64[us]"))


@pytest.mark.parametrize("codec", ["plain", "for", "delta", "dict", "rle", "bss"])
@pytest.mark.parametrize("arr", [INT32, INT64, SORTED], ids=["i32", "i64", "sorted"])
def test_int_codecs(arr, codec):
    _rt(arr, codec)
    _rt(arr, codec, "zstd")


def test_doubles():
    _rt(DOUBLES, "plain")
    _rt(DOUBLES, "bss", "zstd")


@pytest.mark.parametrize("codec", ["plain", "dict"])
def test_strings(codec):
    _rt(STRINGS, codec)
    _rt(STRINGS, codec, "zstd")
    _rt(TEXT, codec, "zlib")


def test_bools_and_ts():
    _rt(BOOLS, "plain")
    _rt(TS, "delta")
    _rt(TS, "dict")
    _rt(TS_NAIVE, "delta", "zstd")


def test_empty_and_single():
    for arr in [pa.array([], type=pa.int64()), pa.array([], type=pa.string()),
                pa.array([7], type=pa.int64()), pa.array(["x"])]:
        codecs = (["plain", "dict"] if pa.types.is_string(arr.type)
                  else ["plain", "dict", "for", "delta", "rle"])
        for c in codecs:
            _rt(arr, c)


def test_nulls():
    a = pa.array([1, None, 3, None, 5] * 100, type=pa.int64())
    _rt(a, "for", "zstd")
    _rt(a, "dict")
    s = pa.array(["a", None, "ccc", "", None] * 50)
    _rt(s, "plain", "zstd")
    _rt(s, "dict")


def test_all_null():
    a = pa.array([None] * 10, type=pa.int64())
    _rt(a, "plain")


def test_dict_beats_plain_on_lowcard():
    plain = encode_array(STRINGS, "plain")
    d = encode_array(STRINGS, "dict")
    assert len(d) < len(plain) / 4


def test_delta_beats_plain_on_sorted():
    assert len(encode_array(SORTED, "delta")) < len(encode_array(SORTED, "plain")) / 4


# ---------- selector ----------

def test_selector_lowcard_string_picks_dict():
    st = profile_array(STRINGS, "role")
    assert choose_codec(st)[0] == "dict"


def test_selector_sorted_int_picks_delta():
    st = profile_array(SORTED, "ts")
    assert choose_codec(st)[0] == "delta"


def test_selector_random_int_picks_for():
    st = profile_array(INT64, "k")
    assert choose_codec(st)[0] == "for"


def test_selector_double_picks_bss():
    st = profile_array(DOUBLES, "v")
    assert choose_codec(st)[0] == "bss"


def test_selector_hicard_text():
    st = profile_array(TEXT, "text")
    assert choose_codec(st)[0] in ("fsst", "plain")  # fsst once kernel lands


def test_prune_entries_numeric_not_string_compare():
    """Regression: int stats must compare numerically — lexicographic
    would skip a chunk with min=9,max=100 for predicate (20, 30)."""
    from parquet_go_spark.decode import prune_entries

    entries = [
        {"chunk_id": "a", "columns": {"x": {"min": 9, "max": 100}}},
        {"chunk_id": "b", "columns": {"x": {"min": 200, "max": 300}}},
    ]
    kept = prune_entries(entries, {"x": (20, 30)})
    assert [e["chunk_id"] for e in kept] == ["a"]


def test_prune_entries_timestamp_iso():
    import datetime

    from parquet_go_spark.decode import prune_entries

    e1 = {"chunk_id": "a", "columns": {"ts": {"min": "2025-01-01T00:00:00",
                                              "max": "2025-01-10T00:00:00"}}}
    e2 = {"chunk_id": "b", "columns": {"ts": {"min": "2025-02-01T00:00:00",
                                              "max": "2025-02-10T00:00:00"}}}
    lo = datetime.datetime(2025, 1, 5)
    kept = prune_entries([e1, e2], {"ts": (lo, datetime.datetime(2025, 1, 6))})
    assert [e["chunk_id"] for e in kept] == ["a"]


def test_binary_roundtrip_all_codecs():
    import pyarrow as pa

    b = pa.array([b"hello", b"", b"\x00\xff" * 10, None, b"hello"], pa.binary())
    for codec, ent in [("plain", "none"), ("dict", "zstd"),
                       ("fsst", "zstd"), ("prefix", "none")]:
        assert decode_array(encode_array(b, codec, ent)).equals(b), codec


def test_decimal_roundtrip():
    from decimal import Decimal

    import pyarrow as pa

    d = pa.array([Decimal("123.45"), None, Decimal("-99999.99"),
                  Decimal("0.01")], pa.decimal128(10, 2))
    assert decode_array(encode_array(d, "plain", "zstd")).equals(d)


def test_selector_handles_binary_and_decimal():
    from decimal import Decimal

    import pyarrow as pa

    b = pa.array([b"a", b"b", b"a"] * 10, pa.binary())
    codec, ent = choose_codec(profile_array(b, "b"))
    assert codec in ("dict", "plain")
    d = pa.array([Decimal("1.5")] * 5, pa.decimal128(5, 2))
    assert choose_codec(profile_array(d, "d")) == ("plain", "zstd")


def test_zlib_entropy_stage():
    import numpy as np
    import pyarrow as pa

    arr = pa.array(np.arange(5000, dtype=np.int64) % 97)
    blob = encode_array(arr, "for", "zlib")
    assert decode_array(blob).equals(arr)


def test_date32_roundtrip():
    import datetime

    import pyarrow as pa

    d0 = datetime.date(2025, 1, 1)
    arr = pa.array([d0 + datetime.timedelta(days=i) for i in range(300)],
                   pa.date32())
    for codec in ("plain", "delta", "for", "dict"):
        assert decode_array(encode_array(arr, codec, "none")).equals(arr), codec


def test_alp_decimal_doubles():
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.kernels.alp import alp_decode, alp_encode, alp_probe

    prices = np.round(np.random.default_rng(0).uniform(1, 9e4, 5000), 2)
    assert alp_probe(prices) == 2
    out = alp_decode(alp_encode(prices))
    assert np.array_equal(out, prices)  # bit-exact
    arr = pa.array(prices, pa.float64())
    blob = encode_array(arr, "alp", "none")
    assert decode_array(blob).equals(arr)
    assert len(blob) < len(encode_array(arr, "bss", "zstd"))


def test_alp_probe_rejects_non_decimal():
    import numpy as np

    from parquet_go_spark.kernels.alp import alp_probe

    rng = np.random.default_rng(1)
    assert alp_probe(rng.standard_normal(100)) is None
    assert alp_probe(np.array([1.5, np.nan])) is None
    assert alp_probe(np.array([np.inf])) is None
    assert alp_probe(np.array([-0.0, 1.0])) is None
    assert alp_probe(np.array([], dtype=np.float64)) == 0


def test_alp_upgrade_in_encode_path():
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.encode import _encode_one_column

    prices = pa.array(np.round(
        np.random.default_rng(2).uniform(1, 1e5, 20000), 2))
    blob, meta = _encode_one_column(prices, "price", None)
    assert meta["codec"] == "alp"
    assert decode_array(blob).equals(prices)


def test_nested_roundtrip_all_shapes():
    """Generic nested containers (SURVEY §2.5 L2): struct, map,
    list<T> with nulls at every level round-trip bit-exactly."""
    import pyarrow as pa

    cases = [
        pa.array([["a", "bb"], None, [], ["ccc", None, "dd"]],
                 pa.list_(pa.string())),
        pa.array([[1, 2, 3], [4], None, []], pa.list_(pa.int64())),
        pa.array([[[1, 2], [3]], None, [[], [4, 5]]],
                 pa.list_(pa.list_(pa.int32()))),
        pa.array(
            [{"a": 1, "b": "x"}, None, {"a": None, "b": "yy"},
             {"a": 3, "b": None}],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        pa.array(
            [{"s": {"k": 1}, "l": [1.5, 2.5]}, None,
             {"s": None, "l": None}],
            pa.struct([("s", pa.struct([("k", pa.int32())])),
                       ("l", pa.list_(pa.float64()))]),
        ),
        pa.array([[("k1", 1), ("k2", 2)], None, [], [("k3", None)]],
                 pa.map_(pa.string(), pa.int64())),
        pa.array([None, None], pa.struct([("a", pa.int64())])),
        pa.array([], pa.list_(pa.string())),
    ]
    from parquet_go_spark.codec import content_crc
    from parquet_go_spark.plan import choose_codec, profile_array

    for arr in cases:
        c, e = choose_codec(profile_array(arr, "x"))
        blob = encode_array(arr, c, e)
        back = decode_array(blob)
        assert back.equals(arr), (arr.type, back, arr)
        assert content_crc(arr) == content_crc(back)


def test_nested_child_gets_real_codec():
    """A text field inside a struct must still compress (child blobs
    auto-select FSST/dict, not raw plain)."""
    import pyarrow as pa

    text = ["the quick brown fox jumps over the lazy dog %d" % i
            for i in range(2000)]
    arr = pa.array([{"t": t, "i": i} for i, t in enumerate(text)],
                   pa.struct([("t", pa.string()), ("i", pa.int64())]))
    blob = encode_array(arr, "plain", "none")
    assert len(blob) < arr.nbytes * 0.6, (len(blob), arr.nbytes)
    assert decode_array(blob).equals(arr)


def test_selector_sorted_prefix_string_picks_prefix():
    """A sorted high-cardinality prefix-heavy column (the sorted
    conv_id shape) must auto-select front-coding (E6)."""
    import pyarrow as pa

    names = [f"conv-{i:012d}" for i in range(150_000)]
    arr = pa.array(names)
    st = profile_array(arr, "conv_id")
    assert choose_codec(st)[0] == "prefix", (st.sorted_frac, st.extras)
    blob = encode_array(arr, *choose_codec(st))
    assert decode_array(blob).equals(arr)
    assert len(blob) < len(encode_array(arr, "plain", "zstd"))


def test_selector_unsorted_hicard_string_still_fsst():
    import pyarrow as pa

    rng = __import__("numpy").random.default_rng(3)
    words = ["query filter join stream table row batch window %d %d"
             % (a, b) for a, b in zip(rng.integers(0, 99999, 4000),
                                      rng.integers(0, 99999, 4000))]
    st = profile_array(pa.array(words), "text")
    assert choose_codec(st)[0] == "fsst"


def test_uint_and_float16_matrix():
    """uint8..64 + float16 across the numeric codecs (uint64 above
    2^63 must wrap-safe round-trip bit-exactly)."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.codec import content_crc
    from parquet_go_spark.plan import choose_codec, profile_array

    rng = np.random.default_rng(9)
    cases = {
        pa.uint8(): rng.integers(0, 255, 5000, dtype=np.uint8),
        pa.uint16(): rng.integers(0, 1 << 16, 5000, dtype=np.uint16),
        pa.uint32(): rng.integers(0, 1 << 32, 5000, dtype=np.uint32),
        pa.uint64(): rng.integers(0, 1 << 63, 5000, dtype=np.uint64)
        + np.uint64(1 << 63),  # straddle the int64 boundary
        pa.float16(): rng.standard_normal(5000).astype(np.float16),
    }
    for t, vals in cases.items():
        arr = pa.array(vals, type=t)
        # auto-selected codec
        c, e = choose_codec(profile_array(arr, "u"))
        blob = encode_array(arr, c, e)
        assert decode_array(blob).equals(arr), (t, c)
        assert content_crc(arr) == content_crc(decode_array(blob))
        # forced kernels
        codecs = (["bss", "plain"] if pa.types.is_float16(t)
                  else ["plain", "for", "delta", "pfor", "deltap", "dict"])
        for c2 in codecs:
            blob2 = encode_array(arr, c2, "none")
            assert decode_array(blob2).equals(arr), (t, c2)
        # with nulls
        mask = np.zeros(len(vals), dtype=bool)
        mask[::7] = True
        narr = pa.array(vals, type=t, mask=mask)
        assert decode_array(encode_array(narr, "plain", "zstd")).equals(narr)


def test_fixed_size_binary_roundtrip_and_planes():
    """FLBA/UUID surface (parquet.thrift:32-41): fixed_size_binary
    round-trips bit-exactly (incl. nulls), and the byte-plane transpose
    + zstd beats raw+zstd on UUIDs that share byte positions."""
    import numpy as np
    import pyarrow as pa

    from parquet_go_spark.codec import decode_array, encode_array

    rng = np.random.default_rng(3)
    n = 4096
    # UUIDv7-ish: leading 6 timestamp-ish bytes shared/slowly varying
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 0:4] = 0x01
    raw[:, 4] = (np.arange(n) >> 8).astype(np.uint8)
    vals = [raw[i].tobytes() for i in range(n)]
    vals[7] = None
    vals[4000] = None
    arr = pa.array(vals, type=pa.binary(16))
    blob = encode_array(arr, "plain", "zstd")
    assert decode_array(blob).equals(arr)
    # plane transpose beats an untransposed baseline: compare against
    # variable-width binary of the same bytes
    base = encode_array(arr.cast(pa.binary()), "plain", "zstd")
    assert len(blob) < len(base)


def test_wide_decimal_two_halves_pack():
    """DECIMAL(38,x): two-int64-halves PFOR pack — values that fit in
    the low word collapse the high-word stream; full-range ±10^30
    values still round-trip bit-exactly."""
    import decimal

    import pyarrow as pa

    from parquet_go_spark.codec import decode_array, encode_array

    small = [decimal.Decimal(i * 97 - 5000) / 100 for i in range(5000)]
    arr = pa.array(small, type=pa.decimal128(38, 2))
    blob = encode_array(arr, "plain", "none")
    assert decode_array(blob).equals(arr)
    assert len(blob) < 16 * len(small) / 2  # beats raw 16B/value by 2x+

    huge = [
        decimal.Decimal(10) ** 30 + i * (-1) ** i for i in range(1000)
    ] + [None, decimal.Decimal(-(10 ** 35))]
    arr2 = pa.array(huge, type=pa.decimal128(38, 0))
    blob2 = encode_array(arr2, "plain", "zstd")
    assert decode_array(blob2).equals(arr2)


def test_map_shred_kernel_roundtrip_and_projection(tmp_path):
    """map<string,V> shredding (SURVEY §1.2 MAP row): per-key value
    blobs + a shell with the dict-coded key stream. Exact round-trip
    incl. duplicate keys, null values, null and empty maps; per-key
    projection returns the FIRST occurrence (pc.map_lookup parity);
    unsuitable keys (cardinality, dots) decline to the generic path."""
    import os

    from parquet_go_spark import encode as E
    from parquet_go_spark import shred
    from parquet_go_spark.decode import make_decode_fn

    t = pa.map_(pa.string(), pa.int64())
    arr = pa.array(
        [[("a", 1), ("b", 2)], None, [], [("b", 5)], [("a", None)],
         [("a", 3), ("a", 4)]],  # dup key: first occurrence projects
        type=t,
    )
    chunk = pa.table({"id": pa.array(range(6), pa.int64()), "attrs": arr})
    tdir = str(tmp_path)
    os.makedirs(os.path.join(tdir, "chunks"), exist_ok=True)
    entry = E._encode_or_reuse(chunk, "m00001", tdir, ("id",), {}, False,
                               (), "a0")
    assert entry["columns"]["attrs"]["codec"] == "map_shred"
    assert set(entry["columns"]["attrs"]["children"]) == {"a", "b"}
    batch = pa.RecordBatch.from_pydict(
        {"file": pa.array([os.path.join(tdir, entry["file"])])}
    )

    fn = make_decode_fn(["id", "attrs"])
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    assert out.column("attrs").combine_chunks().equals(arr)

    fn = make_decode_fn(["attrs.a"], column_types={"attrs.a": pa.int64()})
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    assert out.column("attrs.a").to_pylist() == [1, None, None, None,
                                                 None, 3]
    fn = make_decode_fn(["attrs.zz"], column_types={"attrs.zz": pa.int64()})
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    assert out.column("attrs.zz").to_pylist() == [None] * 6

    # guards: >MAP_SHRED_MAX_KEYS distinct or parquet-unsafe key names
    assert shred.shred(
        pa.array([[(f"k{j}", j)] for j in range(40)], type=t)
    ) is None
    assert shred.shred(
        pa.array([[("a.b", 1)]], type=t)
    ) is None

    # generic fallback still answers "attrs.k" via pc.map_lookup
    dotted = pa.array([[("a.b", 1), ("c", 2)], [("c", 9)]], type=t)
    chunk2 = pa.table({"id": pa.array([0, 1], pa.int64()),
                       "attrs": dotted})
    e2 = E._encode_or_reuse(chunk2, "g00001", tdir, ("id",), {}, False,
                            (), "a0")
    assert e2["columns"]["attrs"]["codec"] != "map_shred"
    b2 = pa.RecordBatch.from_pydict(
        {"file": pa.array([os.path.join(tdir, e2["file"])])}
    )
    fn = make_decode_fn(["attrs.c"], column_types={"attrs.c": pa.int64()})
    out = pa.Table.from_batches(list(fn(iter([b2]))))
    assert out.column("attrs.c").to_pylist() == [2, 9]


def test_selector_sampled_distinct_not_diluted_by_chunk_size():
    """A 250k-row wide-text chunk must still pick fsst: the distinct
    count is measured on a 64k sample, and dividing it by the FULL row
    count read the ratio 4x low and flipped text to dict (1.6x the fsst
    size — r5 8 GB cluster run)."""
    import pyarrow as pa

    uniq = pa.array([f"agent {i * 48271 % 300_000} ran tool {i} replied"
                     for i in range(300_000)])
    st = profile_array(uniq, "text")
    assert st.sample_len == 65536
    assert choose_codec(st)[0] == "fsst"
    # and a genuinely low-cardinality column of the same size keeps dict
    lowcard = pa.array(["user", "assistant", "tool", "system"] * 75_000)
    assert choose_codec(profile_array(lowcard, "role"))[0] == "dict"


def _nested_wire_table() -> pa.Table:
    """Fixed chunk covering every shredded shell shape and its edges."""
    n = 12
    st_t = pa.struct([("u", pa.int64()), ("tags", pa.list_(pa.string())),
                      ("s", pa.string())])
    ev_t = pa.struct([("name", pa.string()), ("v", pa.float64())])
    meta = pa.array(
        [None if i % 4 == 1 else
         {"u": i * 7 - 20, "tags": None if i % 5 == 0 else
          [f"t{j}" for j in range(i % 3)], "s": f"row-{i}"}
         for i in range(n)], st_t)

    def calls(i):
        if i % 6 == 2:
            return None
        if i % 6 == 4:
            return []
        return [None if (i + j) % 4 == 3 else
                {"name": ("read", "write", None)[(i + j) % 3], "v": i + j / 8}
                for j in range(1 + i % 3)]

    rows = [calls(i) for i in range(n)]
    attrs = [None if i % 5 == 3 else
             [("lat", i / 4), ("ok", None if i % 2 else 1.5)]
             + ([("lat", -1.0)] if i % 4 == 0 else [])
             for i in range(n)]
    dotted = [None if i % 7 == 6 else [("a.b", float(i)), ("c", i / 2)]
              for i in range(n)]
    return pa.table({
        "id": pa.array(range(n), pa.int64()),
        "meta": meta,
        "calls": pa.array(rows, pa.list_(ev_t)),
        "calls_l": pa.array(rows, pa.large_list(ev_t)),
        "attrs": pa.array(attrs, pa.map_(pa.string(), pa.float64())),
        "dotted": pa.array(dotted, pa.map_(pa.string(), pa.float64())),
        "note": pa.array([None if i % 3 == 0 else f"note {i}"
                          for i in range(n)], pa.string()),
    })


def _nested_wire_digests(tmp_path, chunk: pa.Table, chunk_id: str,
                         key_cols=("id",), overrides=None):
    import hashlib
    import json
    import os

    import pyarrow.parquet as pq

    from parquet_go_spark import encode as E

    os.makedirs(os.path.join(tmp_path, "chunks"), exist_ok=True)
    entry = E._encode_or_reuse(chunk, chunk_id, str(tmp_path), key_cols,
                               overrides or {}, False, (), "a0")
    entry.pop("encode_s")
    blobs = pq.read_table(os.path.join(tmp_path, entry["file"]))
    return ({c: hashlib.sha256(blobs.column(c)[0].as_py()).hexdigest()
             for c in blobs.column_names},
            hashlib.sha256(json.dumps(entry, sort_keys=True).encode())
            .hexdigest())


# SHA-256 of every blob column, then of the manifest entry without
# encode_s (JSON, sorted keys). Any change here is a wire-format change.
_NESTED_WIRE_PINS = {
    "full": ({
        "b_id": "7bc77629670d02c39d1096938df1afe705d898dde34d437f9a6df36a68acf225",
        "b_meta": "2cd2c8bb651700edd9b32bdae12f2f3dc7b0880c34566a39d5e5c18bd7349f4a",
        "b_meta.u": "3832375abfd603de75a47ac3050238941a4f372f0510243dadc751ec2dcee8fa",
        "b_meta.tags": "2d27006d0a02b3adda2447cc6c3be3ff88c29c4a83f530524931c4916f16997c",
        "b_meta.s": "cda00bf21a854eab2c32b3415008acb3ab85d56cf6f901047a8e987052c04d0e",
        "b_calls": "bdfd8b2bf55abe09c57c99aa9ee709d895ea247a88941763a153b8dcdc67ca16",
        "b_calls.name": "e3339401aadc280e4a088814f8967066d2bf93b0cc6d14d2d6310198fc441d59",
        "b_calls.v": "ed6142f75713a4ed7a4ac8edede25b004219d8c3f5543d2ee4488508f49a42b3",
        "b_calls_l": "077677c53ffee9b515ca68c12ab77e05191c422f2784428364624039bc25f6e6",
        "b_calls_l.name": "e3339401aadc280e4a088814f8967066d2bf93b0cc6d14d2d6310198fc441d59",
        "b_calls_l.v": "ed6142f75713a4ed7a4ac8edede25b004219d8c3f5543d2ee4488508f49a42b3",
        "b_attrs": "dcb4375efcbcc4152f38eda0f4cdf6cc788732174ebdf1295c207c1459786e58",
        "b_attrs.lat": "857e7cbb08a636b6b2b9b82bdfc52510746bb9e1b06d55ed26a4f584c8c316df",
        "b_attrs.ok": "7af7aaba9c93c76c7085d049dca28c83b76a2ff32ff66cb458e53345364114dc",
        "b_dotted": "6551cb984abfecb53340687c80de19aac25e566149255b0395a666f4d91aa280",
        "b_note": "611755cce410640d11712b139b9b7092d34b7f1c6a0d9bffa6a54e6cdd71d1ed",
    }, "9b083deaa3be70ad09981e1984c21e273edb712ae451ffb685fc8ede13206adb"),
    "sliced": ({
        "b_id": "53fa34378d91c463911577c457cb26c31b389aa5b1481ffb6cdb924da74a09d3",
        "b_meta": "3da748df6f4a1fa45e6c63de1f0b31fe7eaf61c360a4eff0ff567975d9452c28",
        "b_meta.u": "bd9ece73150ff6a895fb457350553e5fb4919589fd4fb20dc38d643be6fe4f21",
        "b_meta.tags": "1af49a3c1cc0e7dfb58caa9cb1da3a605aa2a84eb16a844f9134fd3822e39eba",
        "b_meta.s": "ec54873c012f7645f382a74df38f7dfb23d7235e9dbfa189065acedb834c018e",
        "b_calls": "08113aaba60079d542f3a57297d1bd6b727df6def1b405d3895396a560ebef1c",
        "b_calls.name": "648766a861345f9230a9f0e380f3bbfc3dc8409cd3e9dff7de7775f47a098218",
        "b_calls.v": "fe24c5b79c7ac767a4ffe5b6cba95e2c98869c98af3cdb230ea809bfdbc85379",
        "b_calls_l": "42f0edade74556eeac57ba7ef7461c4973bb80ad7356735b246829d973b695bb",
        "b_calls_l.name": "648766a861345f9230a9f0e380f3bbfc3dc8409cd3e9dff7de7775f47a098218",
        "b_calls_l.v": "fe24c5b79c7ac767a4ffe5b6cba95e2c98869c98af3cdb230ea809bfdbc85379",
        "b_attrs": "893b9031dba5543861477fa84345eef8621af08b3836b2ae8cd940f16053ec92",
        "b_attrs.lat": "0f2138789ffa9287fda87a634e61fa887e57564356453d0d338aba53e36005e6",
        "b_attrs.ok": "10d7eadac139c7b3028397551ef4c70fc30fe9da83785be06ee137a16d1f4cbf",
        "b_dotted": "3ac7a56bd135e901e550957da0aa39e3e7ae7305a394c09ec76fed0b7643942c",
        "b_note": "5dc402df80456ba9d04104920b3dbab0f255fb2b3927663201acf32d75a5f9c8",
    }, "c0d91e61bfe8adb4e5896ad37445bc6b56a7ea264004732554c03a6f1644e25e"),
    "allnull": ({
        "b_id": "b9bba4ba37bc0e0cd0bac4581a3e0d39046b075f2dd850598ef2909b9f18f35f",
        "b_meta": "198076eeafcee6e24deb3760ee39c94b98d653f92980656c3ee556dc5ccad4ee",
        "b_meta.u": "a70525b2857daaeb0b509f2143a227b8b5a88344b4a024b1cb80523db6fd7602",
        "b_meta.tags": "165b6cd8df32b5e014bf86b8aa8808a08de957339ccf99ac5ac9db46440b3821",
        "b_meta.s": "6e36c61772cdad187dab51a168e031464a44b71cdeaaa6099e041512c5d6061b",
        "b_calls": "39fafa649a624e3ffcbdcb024e1d94497c60ee0699ba304629f4c2c360003d23",
        "b_calls.name": "6e36c61772cdad187dab51a168e031464a44b71cdeaaa6099e041512c5d6061b",
        "b_calls.v": "c5b162b890d5a34d16a2ceecc92cd15492744695dc8ecc3e55880821615c8248",
        "b_calls_l": "475644851d966cb3608d8c52539a693257eaa88b75f6ffe2fff0a5269699a743",
        "b_calls_l.name": "6e36c61772cdad187dab51a168e031464a44b71cdeaaa6099e041512c5d6061b",
        "b_calls_l.v": "c5b162b890d5a34d16a2ceecc92cd15492744695dc8ecc3e55880821615c8248",
        "b_attrs": "939554e20e13128f55a80db9c4cb5554ca6ce821b59657f8d0a065f9ac22040d",
        "b_dotted": "939554e20e13128f55a80db9c4cb5554ca6ce821b59657f8d0a065f9ac22040d",
        "b_note": "d7156a444e02d6b5047513e8f0c2e1e79a0a8f1a2c4ee39185a74e25074a0d0b",
    }, "634ee72d831154893031772ef09741477f3e96ba776db811f8f6f3a0e0872912"),
}


@pytest.mark.parametrize("case", sorted(_NESTED_WIRE_PINS))
def test_nested_wire_format_pinned(case, tmp_path):
    """Shredded struct, list<struct>, large_list<struct> and map shells,
    their child blobs, a declined (dotted-key) map and a nullable string
    encode to fixed bytes and a fixed manifest entry — whole, sliced at
    a non-zero offset, and all-null — and decode back to the input."""
    import os

    from parquet_go_spark.decode import make_decode_fn

    t = _nested_wire_table()
    chunk = {
        "full": t,
        "sliced": t.slice(5),
        "allnull": pa.table({c: pa.nulls(5, t.schema.field(c).type)
                             for c in t.column_names}),
    }[case]
    chunk_id = {"full": "w00001", "sliced": "w00002", "allnull": "w00003"}[case]
    blobs, entry = _nested_wire_digests(tmp_path, chunk, chunk_id)
    assert (blobs, entry) == _NESTED_WIRE_PINS[case]
    path = os.path.join(tmp_path, "chunks", f"chunk-{chunk_id}.parquet")
    batch = pa.RecordBatch.from_pydict({"file": pa.array([path])})
    out = pa.Table.from_batches(
        list(make_decode_fn(chunk.column_names)(iter([batch])))
    )
    assert out.equals(chunk.combine_chunks())


# The flat transcript columns a table write produces by default: deltap
# ts/turn_idx, dict + RLE-hybrid conv_id/role/tool, fsst text — then
# each other bit-packing integer codec forced on ts and turn_idx ("auto"
# already pins deltap there). Same digests as _NESTED_WIRE_PINS; any
# change here is a wire-format change.
_FLAT_WIRE_PINS = {
    "auto": ({
        "b_conv_id": "af683af3fe498ad9763b0fd5863e515f4794a861e27fae37edc7c00f646b4e82",
        "b_turn_idx": "4da1be4b66dc6dc2d2bb87149ffbd01e6e67ea8816416dd8d75eaba51029cf5d",
        "b_role": "0f16a9148a7524256269ca2e84ed961044cf9cadb4b3674bce4b4fab556b02ff",
        "b_text": "fed7a670999f1c1410add441d3ea0f3c1b8a2861a5537bf0a33a99d255c67477",
        "b_tool": "0486d7284a49c8d2f274e0c7b2b41d871720e7a989885cb5123188a8b1fe9f24",
        "b_ts": "da1805ce8929fdc9e646b13cace8262c5b2d60d864998166a835e49cfc190ffb",
    }, "d2f736ec8c247c72358579883f99caf6063c8069de87b822407392382a31d25d"),
    "for": ({
        "b_conv_id": "af683af3fe498ad9763b0fd5863e515f4794a861e27fae37edc7c00f646b4e82",
        "b_turn_idx": "b44f9b737a07f79d43e6682489e889150a31a12479eb4a16e13a17f48b3c6d6d",
        "b_role": "0f16a9148a7524256269ca2e84ed961044cf9cadb4b3674bce4b4fab556b02ff",
        "b_text": "fed7a670999f1c1410add441d3ea0f3c1b8a2861a5537bf0a33a99d255c67477",
        "b_tool": "0486d7284a49c8d2f274e0c7b2b41d871720e7a989885cb5123188a8b1fe9f24",
        "b_ts": "677f198e29f44823b2a0dbeaf016be44320cdba8b2b784fd1d2eb902b58ad60a",
    }, "d52edc437f9362f096a0d76704310d5fd2e23329a40c45039a3c23c5ec2c6596"),
    "delta": ({
        "b_conv_id": "af683af3fe498ad9763b0fd5863e515f4794a861e27fae37edc7c00f646b4e82",
        "b_turn_idx": "ec04863efbd845b7050c58a58f104b61c7c62bb147b5ea53e61b1ea4748808d0",
        "b_role": "0f16a9148a7524256269ca2e84ed961044cf9cadb4b3674bce4b4fab556b02ff",
        "b_text": "fed7a670999f1c1410add441d3ea0f3c1b8a2861a5537bf0a33a99d255c67477",
        "b_tool": "0486d7284a49c8d2f274e0c7b2b41d871720e7a989885cb5123188a8b1fe9f24",
        "b_ts": "3acc47efe6ead145869cb1aef1b3277116e51ddf9b8cb98fae0dea87bd740ac9",
    }, "f1f92b02ddb840ec3e53380995592dab711ea49067d458953669dceeed387965"),
    "pfor": ({
        "b_conv_id": "af683af3fe498ad9763b0fd5863e515f4794a861e27fae37edc7c00f646b4e82",
        "b_turn_idx": "30bba170aa146b2f7668201d94acf583b9029287e9bd86055855b9bb1df1983a",
        "b_role": "0f16a9148a7524256269ca2e84ed961044cf9cadb4b3674bce4b4fab556b02ff",
        "b_text": "fed7a670999f1c1410add441d3ea0f3c1b8a2861a5537bf0a33a99d255c67477",
        "b_tool": "0486d7284a49c8d2f274e0c7b2b41d871720e7a989885cb5123188a8b1fe9f24",
        "b_ts": "63bd5de086fbbf501118ce106266377d5b28930bfa158c6e571f1dd496088aaf",
    }, "9b5529d6f6a1d5c6d448f8b69c9509a30554d0380a0f809b345ff71767d7a8ec"),
    "rle": ({
        "b_conv_id": "af683af3fe498ad9763b0fd5863e515f4794a861e27fae37edc7c00f646b4e82",
        "b_turn_idx": "11f4c88f64b6c79856339ca98e5de55f69f8c87194081764b91bc2386247de59",
        "b_role": "0f16a9148a7524256269ca2e84ed961044cf9cadb4b3674bce4b4fab556b02ff",
        "b_text": "fed7a670999f1c1410add441d3ea0f3c1b8a2861a5537bf0a33a99d255c67477",
        "b_tool": "0486d7284a49c8d2f274e0c7b2b41d871720e7a989885cb5123188a8b1fe9f24",
        "b_ts": "33d45b4c58fe0a99af8d1b1b1a1947171248f135272d517ede28f8a230b75cae",
    }, "cfb1fbdef0afc8636018e7f105840e24768aeeaa72aab614b0617b42098a4038"),
}


@pytest.mark.parametrize("case", sorted(_FLAT_WIRE_PINS))
def test_flat_wire_format_pinned(case, tmp_path):
    """One make_transcripts chunk encodes to fixed blob bytes and a
    fixed manifest entry under the selector's codecs and under every
    forced bit-packing codec, and decodes back to the input."""
    import os

    from parquet_go_spark.decode import make_decode_fn
    from parquet_go_spark.fixtures import make_transcripts

    chunk = make_transcripts(40, seed=7).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")])
    overrides = ({} if case == "auto" else
                 {c: (case, "none") for c in ("ts", "turn_idx")})
    assert _nested_wire_digests(
        tmp_path, chunk, "f00001", ("conv_id", "turn_idx"), overrides
    ) == _FLAT_WIRE_PINS[case]
    path = os.path.join(tmp_path, "chunks", "chunk-f00001.parquet")
    batch = pa.RecordBatch.from_pydict({"file": pa.array([path])})
    out = pa.Table.from_batches(
        list(make_decode_fn(chunk.column_names)(iter([batch])))
    )
    assert out.equals(chunk.combine_chunks())


def test_shred_null_rows_spanning_child_values(tmp_path):
    """A null list or map row may span child values in the arrow
    buffers (Arrow producers need not zero its extent). Shredding must
    treat it as 0 entries: the whole column and each projection decode
    to the logical values."""
    import os

    from parquet_go_spark import encode as E
    from parquet_go_spark.decode import make_decode_fn

    st_t = pa.struct([("name", pa.string()), ("v", pa.int64())])
    offs = np.array([0, 2, 4, 6], np.int32)
    mask = pa.array([False, True, False])
    calls = pa.ListArray.from_arrays(
        pa.array(offs), pa.array([{"name": f"n{i}", "v": i}
                                  for i in range(6)], st_t), mask=mask)
    mt = pa.map_(pa.string(), pa.float64())
    entries = pa.StructArray.from_arrays(
        [pa.array(list("abcabc")), pa.array([1.0, 2, 3, 4, 5, 6])],
        fields=[mt.key_field, mt.item_field])
    attrs = pa.Array.from_buffers(
        mt, 3, [pa.compute.invert(mask).buffers()[1], pa.py_buffer(offs)],
        children=[entries], null_count=1)
    chunk = pa.table({"id": pa.array([0, 1, 2], pa.int64()),
                      "calls": calls, "attrs": attrs})
    os.makedirs(os.path.join(tmp_path, "chunks"))
    entry = E._encode_or_reuse(chunk, "z00001", str(tmp_path), ("id",), {},
                               False, (), "a0")
    assert entry["columns"]["calls"]["codec"] == "list_shred"
    assert entry["columns"]["attrs"]["codec"] == "map_shred"
    batch = pa.RecordBatch.from_pydict(
        {"file": pa.array([os.path.join(tmp_path, entry["file"])])})

    def read(cols, types=None):
        fn = make_decode_fn(cols, column_types=types)
        return pa.Table.from_batches(list(fn(iter([batch]))))

    full = read(["calls", "attrs"])
    assert full.column("calls").to_pylist() == calls.to_pylist()
    assert full.column("attrs").to_pylist() == attrs.to_pylist()
    got = read(["calls.name", "attrs.c"],
               {"calls.name": pa.list_(pa.string()), "attrs.c": pa.float64()})
    assert got.column("calls.name").to_pylist() == [["n0", "n1"], None,
                                                    ["n4", "n5"]]
    assert got.column("attrs.c").to_pylist() == [None, None, 6.0]
