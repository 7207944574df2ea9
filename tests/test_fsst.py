"""FSST kernel tests: round-trip bit-identity + compression wins.

Mirrors the reference's per-encoding round-trip test style
(SURVEY.md §5.1) on the codec the north_star adds beyond Parquet.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codec import decode_array, encode_array
from parquet_go_spark.fixtures import make_transcripts
from parquet_go_spark.kernels.fsst import fsst_decode, fsst_encode, fsst_train


def _roundtrip(strings: list[bytes]):
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    data = np.frombuffer(b"".join(strings), np.uint8)
    blob = fsst_encode(lengths, data)
    offsets, out = fsst_decode(blob)
    assert list(np.diff(offsets)) == [len(s) for s in strings]
    got = out.tobytes()
    assert got == b"".join(strings)
    return blob


def test_empty_column():
    _roundtrip([])


def test_all_empty_strings():
    _roundtrip([b"", b"", b""])


def test_single_string():
    _roundtrip([b"hello world hello world hello"])


def test_repetitive_text_compresses():
    strings = [b"the quick brown fox " * 8] * 200
    blob = _roundtrip(strings)
    raw = sum(len(s) for s in strings)
    assert len(blob) < raw / 3  # highly repetitive → big win


def test_escape_bytes_255():
    # 0xFF never matches a symbol start cheaply and exercises escape runs
    strings = [bytes([255, 255, 255, 65]), bytes([255]) * 7, b"a\xffb"]
    _roundtrip(strings)


def test_non_ascii_utf8():
    strings = ["héllo wörld".encode(), "日本語テキスト".encode(), "émoji 🎉🎉🎉".encode()]
    _roundtrip(strings)


def test_all_byte_values():
    strings = [bytes(range(256)), bytes(range(255, -1, -1)) * 3]
    _roundtrip(strings)


def test_trained_symbols_valid():
    data = np.frombuffer(b"abcabcabcabc" * 100, np.uint8)
    syms = fsst_train(data)
    assert 0 < len(syms) <= 255
    assert all(1 <= len(s) <= 16 for s in syms)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=60),
        min_size=0,
        max_size=120,
    )
)
def test_roundtrip_property(strings):
    _roundtrip(strings)


def test_fixture_text_roundtrip_and_size():
    """The headline: transcript text through the full codec path
    (fsst + zstd) must round-trip exactly and beat plain+zstd is not
    required, but must beat raw by a wide margin."""
    tbl = make_transcripts(300, seed=42)
    text = tbl.column("text").combine_chunks()
    blob = encode_array(text, "fsst", "zstd")
    back = decode_array(blob)
    assert back.cast(pa.string()).equals(text.cast(pa.string()))
    assert len(blob) < text.nbytes / 3


def test_fixture_text_beats_plain_zstd_alone():
    """FSST+zstd should be at least competitive with plain+zstd on the
    word-vocabulary fixture text (the BASELINE.md win condition)."""
    tbl = make_transcripts(500, seed=7)
    text = tbl.column("text").combine_chunks()
    fsst_blob = encode_array(text, "fsst", "zstd")
    plain_blob = encode_array(text, "plain", "zstd")
    # allow 10% slack: zstd alone is strong on tiny-vocab synthetic text
    assert len(fsst_blob) <= len(plain_blob) * 1.10


def test_table_cache_reuse_and_ratio_guard():
    """Per-task symbol-table reuse: a second chunk of similar text
    reuses the cached table (same bytes as the cache records); a chunk
    whose content drifted (random hex vs English-ish) trips the >15%
    ratio guard and retrains — its blob must match a fresh encode."""
    import numpy as np

    from parquet_go_spark.kernels.fsst import fsst_decode, fsst_encode

    rng = np.random.default_rng(11)
    words = [b"the quick brown fox ", b"jumps over the lazy dog ",
             b"transcripts compress well "]
    base = b"".join(words[int(i)] for i in rng.integers(0, 3, 4000))
    similar = b"".join(words[int(i)] for i in rng.integers(0, 3, 4000))
    drift = bytes(rng.integers(48, 58, len(base)).astype(np.uint8))

    def parts(buf, n_str=200):
        data = np.frombuffer(buf, np.uint8)
        step = len(data) // n_str
        lens = np.full(n_str, step, np.int64)
        lens[-1] = len(data) - step * (n_str - 1)
        return lens, data

    cache = {}
    b1 = fsst_encode(*parts(base), cache=cache, cache_key="text")
    assert ("fsst", "text") in cache
    # similar chunk: cached table reused — decodes identically and no
    # retrain happened (cache entry object unchanged)
    entry_before = cache[("fsst", "text")]
    b2 = fsst_encode(*parts(similar), cache=cache, cache_key="text")
    assert cache[("fsst", "text")] is entry_before
    off, dat = fsst_decode(b2)
    assert bytes(dat) == similar
    # drifted chunk: guard trips, retrains, blob == fresh encode
    b3 = fsst_encode(*parts(drift), cache=cache, cache_key="text")
    assert cache[("fsst", "text")] is not entry_before
    b3_fresh = fsst_encode(*parts(drift))
    assert b3 == b3_fresh
    off, dat = fsst_decode(b3)
    assert bytes(dat) == drift


def test_fixture_text_slicing_invariant():
    """make_transcripts builds text in row slices (32-bit offset guard
    for 1e9-word inputs); values must not depend on the slice size."""
    a = make_transcripts(500, seed=7)
    b = make_transcripts(500, seed=7, _text_slice_rows=13)
    assert b.column("text").num_chunks > 1
    assert a.to_pydict() == b.to_pydict()


def test_fixture_zero_conversations():
    """Zero conversations give a 0-row table with the usual schema."""
    empty = make_transcripts(0, seed=7)
    assert empty.num_rows == 0
    assert empty.schema == make_transcripts(3, seed=7).schema
