"""Decode path: manifest → chunk files → DataFrame.

Spark-first re-expression of the reference's read path
(⟨ref⟩ reader.go; SURVEY.md §3.2): projection pushdown (only requested
blobs are decoded — P1 parity), stats-based chunk skipping from manifest
min/max (P3, parquet.thrift:267-312), and CRC verification per blob
(M7, parquet.thrift:807-824).
"""

from __future__ import annotations

import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from . import shred
from .codec import decode_array
from .encode import BLOB_COL_PREFIX, embedded_entry

__all__ = ["make_decode_fn", "prune_entries", "normalize_predicate"]


def _iv_bound(v):
    """timedelta predicate bounds → int64 microseconds, matching how
    interval columns are stored (table.py lowers day-time intervals to
    micros around the Arrow boundary; manifest stats are on the lowered
    ints). Year-month predicates are plain int months already."""
    import datetime

    if isinstance(v, datetime.timedelta):
        return (v.days * 86_400_000_000 + v.seconds * 1_000_000
                + v.microseconds)
    return v


def normalize_predicate(p):
    """A predicate is either a (lo, hi) range (None = unbounded) or a
    bare scalar = point lookup. Returns (lo, hi, point).
    timedelta bounds target lowered day-time-interval columns and are
    converted to int64 microseconds."""
    if isinstance(p, (tuple, list)) and len(p) == 2:
        return _iv_bound(p[0]), _iv_bound(p[1]), None
    v = _iv_bound(p)
    return v, v, v


def prune_entries(entries: list[dict], column_predicates: dict | None):
    """Chunk skipping on manifest stats: {col: (lo, hi)} typed min/max
    overlap — the manifest plays Parquet's ColumnIndex role. Stats are
    stored JSON-typed (manifest.stat_value): numbers compare
    numerically, datetimes as ISO strings. Incomparable or missing
    stats never skip a chunk (conservative)."""
    if not column_predicates:
        return entries
    from .manifest import stat_value

    preds = {}
    for col, p in column_predicates.items():
        lo, hi, point = normalize_predicate(p)
        preds[col] = (stat_value(lo), stat_value(hi), point)
    kept = []
    for e in entries:
        skip = False
        for col, (lo, hi, point) in preds.items():
            m = e["columns"].get(col)
            if m is None:
                continue
            comparable = False
            if m.get("min") is not None and m.get("max") is not None:
                try:
                    if (hi is not None and m["min"] > hi) or (
                        lo is not None and m["max"] < lo
                    ):
                        skip = True
                        break
                    comparable = True
                except TypeError:
                    pass
            # a bloom MISS is only trusted when the probe's type proved
            # comparable with the column's stats — a mistyped probe
            # (str vs int column) must stay conservative, not skip
            if point is not None and m.get("bloom") and comparable:
                from .kernels.bloom import bloom_contains

                if not bloom_contains(m["bloom"], point):
                    skip = True
                    break
        if not skip:
            kept.append(e)
    return kept


def make_decode_fn(columns: list[str], row_filter: dict | None = None,
                   column_types: dict | None = None):
    """Build the decoder: iterator[RecordBatch of file paths] →
    decoded RecordBatches in the requested column order. It is the one
    decoder of every table read, run either as a Spark job's mapInArrow
    function or by the driver over the same batches in process (a
    small read's driver site, ``table._decode_local``).

    ``row_filter`` {col: (lo, hi)} is blob-level late materialization
    (P2 beyond the reference): the predicate columns are decoded FIRST,
    the row mask computed, and the remaining blobs are only decoded if
    any row survives — then every column is mask-filtered before
    crossing back into the JVM. Combined with manifest chunk skipping
    this is the full Parquet stats-pruning + row-filter story.

    ``column_types`` {name: arrow type} enables schema evolution: a
    column absent from a chunk (encoded before the column was added)
    decodes as nulls of the declared type instead of erroring.

    If the input batches carry ``chunk_id``/``data_crc``/``enc_bytes``
    columns (every table-level decode sends the manifest's
    expectations along with each file path — no driver-side dict,
    scales to any chunk count),
    the file's embedded manifest entry is checked against them before
    decoding: a chunk file rewritten in place after the snapshot was
    taken (compaction GC, un-prefixed rewrite) fails loudly instead of
    silently decoding the NEW data under a historical snapshot."""
    filter_cols = list(row_filter or {})
    fetch_cols = list(dict.fromkeys(filter_cols + columns))
    column_types = column_types or {}

    def _verify_entry(entry: dict, fpath: str, expect: dict) -> None:
        for k, want in expect.items():
            if want is None:
                continue
            if entry.get(k) != want:
                raise IOError(
                    f"chunk file {fpath} does not match its manifest entry "
                    f"({k}: file has {entry.get(k)!r}, snapshot expects "
                    f"{want!r}) — the file was rewritten after this "
                    f"snapshot was taken"
                )

    def decode_partition(batches):
        import pyarrow.compute as pc

        for b in batches:
            names = set(b.schema.names)
            expects = {c: b.column(c).to_pylist()
                       for c in ("chunk_id", "data_crc", "enc_bytes")
                       if c in names}
            for row, fpath in enumerate(b.column("file").to_pylist()):
                # ONE file handle per chunk: the embedded entry comes
                # from the footer's key-value metadata, already parsed
                # by ParquetFile (no Arrow schema is built for it), and
                # the blob column read below reuses the same handle
                pf = pq.ParquetFile(fpath)
                entry = embedded_entry(pf.metadata.metadata) or {}
                if expects:
                    _verify_entry(
                        entry, fpath,
                        {c: vals[row] for c, vals in expects.items()},
                    )
                ecols = entry.get("columns", {})
                present = [c for c in fetch_cols
                           if c.split(".", 1)[0] in ecols]
                absent = [c for c in fetch_cols if c not in present]
                for name in absent:  # schema evolution: null-fill
                    if name not in column_types:
                        raise KeyError(
                            f"column {name!r} not in chunk {fpath}"
                        )
                # columnar projection: ONLY the requested blob columns'
                # bytes are read from storage (P1 on disk) — for
                # shredded structs that means only the requested
                # CHILD's bytes (Dremel-style nested projection)
                file_cols = []
                for c in present:
                    base, _, sub = c.partition(".")
                    file_cols.append(BLOB_COL_PREFIX + base)
                    file_cols += [BLOB_COL_PREFIX + f"{base}.{k}" for k in
                                  shred.child_columns(ecols[base], sub) or ()]
                t = (
                    pf.read(columns=list(dict.fromkeys(file_cols)))
                    if file_cols
                    else None
                )

                def _blob(key, crc):
                    blob = t.column(BLOB_COL_PREFIX + key)[0].as_py()
                    if zlib.crc32(blob) != crc:
                        raise IOError(f"CRC mismatch for {key} in {fpath}")
                    return blob

                def _decode_blob(name):
                    if name in absent:
                        return pa.nulls(entry.get("n_rows", 0),
                                        column_types[name])
                    base, _, sub = name.partition(".")
                    m = ecols[base]
                    want = column_types.get(name)
                    if shred.child_columns(m) is not None:
                        kids = m["children"]
                        return shred.unshred(
                            m, _blob(base, m["crc32"]),
                            lambda k: decode_array(_blob(f"{base}.{k}",
                                                         kids[k]["crc32"])),
                            sub, want)
                    if sub:  # non-shredded nested: decode + prune
                        full = _decode_blob(base)
                        if pa.types.is_map(full.type):
                            # generic-path map (unsuitable keys): decode
                            # the whole blob, then arrow's map_lookup
                            return pc.map_lookup(full, query_key=sub,
                                                 occurrence="first")
                        return pc.struct_field(full, sub)
                    arr = decode_array(_blob(name, m["crc32"]))
                    if want is not None and arr.type != want:
                        # type-widening schema evolution (int32 chunks
                        # under an int64 schema); cast raises on any
                        # lossy narrowing instead of corrupting
                        arr = arr.cast(want)
                    return arr

                decoded: dict[str, pa.Array] = {}
                mask = None
                skip = False
                for name in filter_cols:
                    arr = _decode_blob(name)
                    decoded[name] = arr
                    lo, hi = row_filter[name]
                    m = None
                    if lo is not None:
                        m = pc.greater_equal(arr, lo)
                    if hi is not None:
                        mh = pc.less_equal(arr, hi)
                        m = mh if m is None else pc.and_kleene(m, mh)
                    if m is not None:
                        mask = m if mask is None else pc.and_kleene(mask, m)
                        if not pc.any(mask).as_py():
                            skip = True
                            break
                if skip:
                    continue
                arrays = []
                for name in fetch_cols:
                    if name not in decoded:
                        decoded[name] = _decode_blob(name)
                for name in columns:
                    arr = decoded[name]
                    if mask is not None:
                        arr = arr.filter(mask)
                    arrays.append(arr)
                yield pa.RecordBatch.from_arrays(arrays, names=list(columns))

    return decode_partition
