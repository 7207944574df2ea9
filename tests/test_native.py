"""Native (C) FSST fast path vs the numpy reference kernels.

The contract is BIT-IDENTITY: kernels/native.py must produce exactly
the bytes the numpy path produces for every input, so mixed fleets
(hosts with and without a C compiler) emit interchangeable, identical
files. These tests run each corpus through both paths by toggling
``native.lib`` and compare blobs and decoded buffers byte-for-byte.
"""

import numpy as np
import pytest

from parquet_go_spark.kernels import fsst as F
from parquet_go_spark.kernels import native


def _parts(strings):
    bs = [s.encode() if isinstance(s, str) else s for s in strings]
    lengths = np.array([len(b) for b in bs], np.int64)
    data = np.frombuffer(b"".join(bs), np.uint8).copy()
    return lengths, data


def _both_paths(lengths, data):
    """(native_blob, numpy_blob) for one input."""
    if native.lib is None:
        pytest.skip("no C toolchain in this environment")
    blob_c = F.fsst_encode(lengths, data)
    saved = native.lib
    try:
        native.lib = None
        blob_np = F.fsst_encode(lengths, data)
    finally:
        native.lib = saved
    return blob_c, blob_np


def _decode_both(blob):
    off_c, dat_c = F.fsst_decode(blob)
    saved = native.lib
    try:
        native.lib = None
        off_np, dat_np = F.fsst_decode(blob)
    finally:
        native.lib = saved
    assert np.array_equal(off_c, off_np)
    assert np.array_equal(dat_c, dat_np)
    return off_c, dat_c


CORPORA = {
    "english": ["the quick brown fox jumps over the lazy dog. " * k
                for k in range(1, 60)],
    "repetitive": ["tool_call(name=search, args={query: foo})"] * 500
                  + ["assistant: let me look that up for you"] * 500,
    "unicode": ["naïve café — 模型回复 ünïcödé ✓ " * k for k in range(1, 40)],
    "escape-heavy": [bytes([255, 255, 0, 255, 1]) * 20,
                     bytes(range(256)) * 4, b"\xff" * 100],
    "empty-strings": ["", "a", "", "bb", ""] * 50,
    "single": ["only one string in the whole chunk"],
    "long-string": ["x" * 10000 + "the end of a very long string",
                    ("lorem ipsum dolor sit amet " * 400)],  # > _MAX_PARSE_STR
}


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_encode_bit_identity_and_roundtrip(name):
    lengths, data = _parts(CORPORA[name])
    blob_c, blob_np = _both_paths(lengths, data)
    assert blob_c == blob_np, f"native/numpy blob mismatch on {name}"
    off, dat = _decode_both(blob_c)
    assert np.array_equal(np.diff(off), lengths)
    assert bytes(dat) == bytes(data)


def test_random_bytes_identity():
    rng = np.random.default_rng(7)
    for trial in range(5):
        n_str = int(rng.integers(1, 200))
        lens = rng.integers(0, 500, n_str).astype(np.int64)
        data = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8)
        blob_c, blob_np = _both_paths(lens, data)
        assert blob_c == blob_np
        off, dat = _decode_both(blob_c)
        assert bytes(dat) == bytes(data)


def test_empty_chunk():
    lengths = np.zeros(0, np.int64)
    data = np.zeros(0, np.uint8)
    blob_c, blob_np = _both_paths(lengths, data)
    assert blob_c == blob_np
    off, dat = _decode_both(blob_c)
    assert len(off) == 1 and len(dat) == 0


def test_malformed_stream_raises():
    if native.lib is None:
        pytest.skip("no C toolchain in this environment")
    lengths, data = _parts(["hello world, hello fsst"] * 30)
    blob = bytearray(F.fsst_encode(lengths, data))
    # corrupt the tail of the encoded stream into a dangling escape
    blob[-1] = 255
    with pytest.raises(ValueError):
        F.fsst_decode(bytes(blob))


def test_cache_reuse_identity():
    """Per-task symbol-table cache must behave identically on both
    paths (the retrain ratio guard compares payload sizes, which are
    identical when the parses are)."""
    if native.lib is None:
        pytest.skip("no C toolchain in this environment")
    chunks = [["alpha beta gamma delta " * k for k in range(1, 30)],
              ["alpha beta gamma epsilon " * k for k in range(1, 30)],
              ["zeta eta theta iota " * k for k in range(1, 30)]]
    parts = [_parts(c) for c in chunks]

    def run():
        cache = {}
        return [F.fsst_encode(l, d, cache=cache, cache_key="text")
                for l, d in parts]

    blobs_c = run()
    saved = native.lib
    try:
        native.lib = None
        blobs_np = run()
    finally:
        native.lib = saved
    assert blobs_c == blobs_np


def test_build_refuses_cache_others_can_write(tmp_path, monkeypatch):
    """The compiled library is only dlopened from a per-user cache dir
    that nobody else can write: a planted world-writable cache dir is
    refused (the module then falls back to numpy), a fresh one is
    created 0700 and used."""
    import os
    import stat
    import tempfile

    pytest.importorskip("cffi")
    monkeypatch.delenv("PGS_NO_NATIVE", raising=False)
    planted = tmp_path / "planted"
    cdir = planted / f"pgs_native-{os.getuid()}"
    cdir.mkdir(parents=True)
    os.chmod(cdir, 0o777)
    monkeypatch.setenv("TMPDIR", str(planted))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    with pytest.raises(native._Refused, match="not private"):
        native._build()
    assert os.listdir(cdir) == []  # nothing compiled into it either

    if native.lib is None:
        return  # no C toolchain: the build half cannot run here
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    monkeypatch.setenv("TMPDIR", str(fresh))
    monkeypatch.setattr(tempfile, "tempdir", None)
    ffi, lib = native._build()
    assert lib is not None
    mode = os.stat(fresh / f"pgs_native-{os.getuid()}").st_mode
    assert stat.S_IMODE(mode) == 0o700


def _import_native(tmp_path, **env) -> dict:
    """Import the module in a fresh interpreter with a fresh TMPDIR and
    ``env``; returns its lib state, reason and RuntimeWarning texts."""
    import json
    import os
    import subprocess
    import sys

    tmp = tmp_path / "tmp"
    tmp.mkdir(exist_ok=True)
    run_env = {k: v for k, v in os.environ.items() if k != "PGS_NO_NATIVE"}
    run_env.update(TMPDIR=str(tmp), **env)
    code = (
        "import json, warnings\n"
        "with warnings.catch_warnings(record=True) as w:\n"
        "    warnings.simplefilter('always')\n"
        "    from parquet_go_spark.kernels import native\n"
        "print(json.dumps({'lib': native.lib is not None,\n"
        "                  'reason': native.reason,\n"
        "                  'warnings': [str(x.message) for x in w\n"
        "                               if x.category is RuntimeWarning]}))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], env=run_env,
                         cwd=root, capture_output=True, text=True,
                         check=True, timeout=120)
    return json.loads(out.stdout.splitlines()[-1])


def test_failed_build_is_visible(tmp_path):
    """A compiler that fails leaves the numpy path in use, with the
    cause in ``native.reason`` and exactly one RuntimeWarning."""
    pytest.importorskip("cffi")
    got = _import_native(tmp_path, CC="/bin/false")
    assert not got["lib"]
    assert "/bin/false" in got["reason"]
    assert len(got["warnings"]) == 1
    assert "numpy" in got["warnings"][0]
    assert got["reason"] in got["warnings"][0]


def test_no_native_on_purpose_is_silent(tmp_path):
    """PGS_NO_NATIVE=1 picks the numpy path on purpose: a reason, no
    warning, and no build attempt (the failing compiler never runs)."""
    got = _import_native(tmp_path, CC="/bin/false", PGS_NO_NATIVE="1")
    assert not got["lib"]
    assert got["reason"] == "PGS_NO_NATIVE is set"
    assert got["warnings"] == []


def test_refused_cache_is_visible(tmp_path):
    """A cache dir others can write is refused the same visible way."""
    import os

    pytest.importorskip("cffi")
    cdir = tmp_path / "tmp" / f"pgs_native-{os.getuid()}"
    cdir.mkdir(parents=True)
    os.chmod(cdir, 0o777)
    got = _import_native(tmp_path)
    assert not got["lib"]
    assert "not private" in got["reason"]
    assert len(got["warnings"]) == 1
