"""Per-column-chunk codec auto-selection.

Mirrors parquet-go's writer encoding choices (dictionary-first with
PLAIN fallback when the dictionary grows too large — observable in
ColumnMetaData.encodings / encoding_stats, parquet.thrift:879-881,
914-917) and extends them with DELTA for sorted-ish ints/timestamps and
FSST for high-cardinality text, per the north_star in BASELINE.json.

Selection is stats-driven: :func:`profile_array` computes cheap
vectorized statistics on the chunk (or a sample), :func:`choose_codec`
maps them to a (codec, entropy) pair, and the encoder verifies the
choice (if the chosen blob is not smaller than plain, fall back) — the
same guard the reference applies to its dictionary pages.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["ColumnStats", "profile_array", "choose_codec"]

DICT_MAX_CARD = 1 << 16          # dictionary fallback threshold (parquet-like)
DICT_MAX_RATIO = 0.5             # distinct/n above this → dictionary won't pay
SORTED_FRAC_FOR_DELTA = 0.9      # fraction of non-negative diffs → delta


@dataclass
class ColumnStats:
    name: str
    arrow_type: str
    n: int
    null_count: int
    n_distinct: int
    sorted_frac: float = 0.0     # fraction of consecutive non-decreasing pairs
    run_frac: float = 0.0        # 1 - (runs / n): higher = more RLE-friendly
    avg_len: float = 0.0         # strings only
    min_val: object = None
    max_val: object = None
    extras: dict = field(default_factory=dict)
    sample_len: int = 0          # rows the distinct count was measured on
    #                              (0 = exact, covered every non-null row)


def profile_array(arr: pa.Array, name: str = "", sample: int = 65536) -> ColumnStats:
    """Vectorized chunk statistics (the reference's Statistics accumulation,
    parquet.thrift:267-312, plus selector inputs)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    nulls = arr.null_count
    t = arr.type
    st = ColumnStats(name=name, arrow_type=str(t), n=n, null_count=nulls,
                     n_distinct=0)
    if n == 0:
        return st
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_struct(t) or pa.types.is_map(t)):
        return st  # nested: offsets/children profiled recursively
    if pa.types.is_float16(t):
        # arrow compute has no halffloat kernels — numpy stats
        v = (arr.drop_null() if nulls else arr).to_numpy(zero_copy_only=False)
        if len(v):
            st.min_val = float(v.min())
            st.max_val = float(v.max())
            st.n_distinct = len(np.unique(v[:sample]))
        return st
    a = arr.drop_null() if nulls else arr
    # sample for the expensive stats on very large chunks
    s = a.slice(0, sample) if len(a) > sample else a
    st.sample_len = len(s)
    st.n_distinct = len(pc.unique(s))
    if len(a) > sample and st.n_distinct == len(s):
        # saturated sample → treat as all-distinct
        st.n_distinct = len(a)

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        lens = pc.utf8_length(s).to_numpy(zero_copy_only=False)
        st.avg_len = float(lens.mean()) if len(lens) else 0.0
        mm = pc.min_max(a)
        st.min_val, st.max_val = mm["min"].as_py(), mm["max"].as_py()
        if len(s) > 1:
            # adjacent compares stay in Arrow C++ (an object-array
            # round-trip here cost ~0.5 s per 64-chunk encode pass)
            hi, lo = s.slice(1), s.slice(0, len(s) - 1)
            st.run_frac = 1.0 - (
                float(pc.sum(pc.not_equal(hi, lo)).as_py() or 0) + 1
            ) / len(s)
            st.sorted_frac = float(
                pc.mean(pc.greater_equal(hi, lo)).as_py() or 0.0
            )
            if st.sorted_frac >= SORTED_FRAC_FOR_DELTA:
                sv = s.to_numpy(zero_copy_only=False)
                # front-coding probe: mean adjacent common-prefix length
                # relative to avg string length (first 64 chars, small
                # sub-sample — vectorized char-matrix compare)
                sub = sv[: 4096]
                m = np.array(sub, dtype="U64")
                v = m.view(np.uint32).reshape(len(sub), -1)
                neq = v[1:] != v[:-1]
                pfx = np.where(neq.any(axis=1), neq.argmax(axis=1),
                               v.shape[1])
                if st.avg_len > 0:
                    st.extras["prefix_frac"] = float(
                        pfx.mean() / min(st.avg_len, 64.0)
                    )
        return st

    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        lens = pc.binary_length(s).to_numpy(zero_copy_only=False)
        st.avg_len = float(lens.mean()) if len(lens) else 0.0
        return st

    if pa.types.is_fixed_size_binary(t):
        # FLBA/UUID surface (parquet.thrift:32-41, UUID logical type):
        # fixed width, byte-plane transposed + zstd in the codec body
        st.avg_len = float(t.byte_width)
        return st

    if pa.types.is_decimal(t):
        return st  # int64-packed / two-halves PFOR in the codec body

    if pa.types.is_boolean(t):
        st.n_distinct = min(st.n_distinct, 2)
        return st

    if pa.types.is_floating(t):
        v = s.to_numpy(zero_copy_only=False)
        mm = pc.min_max(a)
        st.min_val, st.max_val = mm["min"].as_py(), mm["max"].as_py()
        if len(v) > 1:
            st.run_frac = 1.0 - float((np.diff(v) != 0).sum() + 1) / len(v)
        return st

    # int / timestamp / date
    av = a
    if pa.types.is_timestamp(t):
        av = a.cast(pa.int64())
        s = s.cast(pa.int64())
    elif pa.types.is_date32(t):
        av = a.cast(pa.int32())
        s = s.cast(pa.int32())
    v = s.to_numpy(zero_copy_only=False).astype(np.int64)
    mm = pc.min_max(av)
    st.min_val, st.max_val = mm["min"].as_py(), mm["max"].as_py()
    if len(v) > 1:
        d = np.diff(v)
        st.sorted_frac = float((d >= 0).mean())
        st.run_frac = 1.0 - float((d != 0).sum() + 1) / len(v)
    return st


def choose_codec(st: ColumnStats) -> tuple[str, str]:
    """Map chunk stats → (codec, entropy). The encode path verifies the
    choice against plain size and falls back (dict-page fallback parity)."""
    t = st.arrow_type
    n = max(st.n - st.null_count, 1)
    # The distinct count may come from a bounded sample (profile_array
    # caps the pc.unique pass at 64k rows). A sampled distinct is a
    # LOWER bound for the chunk: dividing it by the FULL row count read
    # the ratio 4x low on 250k-row chunks and flipped wide text columns
    # to dict+zstd (1.6x the fsst size — found by the r5 8 GB cluster
    # run). Judge the ratio within the profiled rows and linearly
    # extrapolate the cardinality for the dict-viability cap: exact for
    # full coverage, conservative (over-estimates distinct, errs toward
    # fsst/plain) under heavy-hitter skew, where the dict arms keep
    # winning on the ratio test anyway.
    samp = st.sample_len if 0 < st.sample_len < n else n
    distinct_ratio = min(1.0, st.n_distinct / samp)
    est_distinct = (st.n_distinct if samp >= n
                    else min(n, (st.n_distinct * n) // samp))

    if t == "bool":
        return "plain", "none"

    if t.startswith(("decimal", "fixed_size_binary")):
        return "plain", "zstd"

    if t.startswith(("struct", "map")):
        # nested containers: child blobs auto-select their own codec +
        # entropy; outer entropy would double-compress them
        return "plain", "none"

    if t.startswith(("list", "large_list")):
        inner = t[t.index("<") + 1 : -1]
        if "<" not in inner and inner.split(": ")[-1] in ("float", "double"):
            return "plain", "zstd"  # flat float list fast path (BSS-style)
        return "plain", "none"  # generic list<T>: recursive child blobs

    if t in ("binary", "large_binary"):
        if est_distinct <= DICT_MAX_CARD and distinct_ratio <= DICT_MAX_RATIO:
            return "dict", "zstd"
        return "plain", "zstd"

    if "string" in t:
        if est_distinct <= DICT_MAX_CARD and distinct_ratio <= DICT_MAX_RATIO:
            return "dict", "zstd"
        # front-coding (DELTA_BYTE_ARRAY, E6) for sorted high-cardinality
        # strings with strong shared prefixes — the sorted-conv_id shape.
        # NOTE: codec_select's SQL oracle only mirrors the dict/fsst arms
        # because lineitem's string columns are always dict-eligible;
        # widen it if the oracle ever covers a sortable string column.
        if (st.sorted_frac >= SORTED_FRAC_FOR_DELTA
                and st.extras.get("prefix_frac", 0.0) >= 0.4):
            return "prefix", "zstd"
        return "fsst", "zstd"

    if t in ("float", "double", "halffloat"):
        return "bss", "zstd"

    # ints / timestamps / dates
    if est_distinct <= DICT_MAX_CARD and distinct_ratio <= 0.1 and st.run_frac > 0.3:
        return "dict", "none"
    if st.sorted_frac >= SORTED_FRAC_FOR_DELTA:
        return "delta", "none"
    if est_distinct <= DICT_MAX_CARD and distinct_ratio <= 0.1:
        return "dict", "none"
    return "for", "none"
