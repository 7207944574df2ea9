"""Distributed decode path: manifest → chunk files → DataFrame.

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

from .codec import decode_array

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


def make_decode_fn(columns: list[str], verify_crc: bool = True,
                   row_filter: dict | None = None,
                   column_types: dict | None = None):
    """Build the mapInArrow UDF: iterator[RecordBatch of file paths] →
    decoded RecordBatches in the requested column order.

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

    def _read_entry(pf) -> dict:
        import json

        meta = pf.schema_arrow.metadata or {}
        raw = meta.get(b"pgs_manifest_entry")
        return json.loads(raw) if raw else {}

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

    def _parse_shell(shell):
        import struct as _s

        from .codec import _type_from_bytes
        from .kernels.rle import rle_decode

        ver, n, has_nulls = _s.unpack_from("<BQB", shell, 0)
        pos = 10
        if has_nulls:
            n_valid, mask_len = _s.unpack_from("<QI", shell, pos)
            pos += 12
            valid = rle_decode(
                memoryview(shell)[pos : pos + mask_len]
            ).astype(bool)
            pos += mask_len
        else:
            n_valid, valid = n, None
        (tlen,) = _s.unpack_from("<I", shell, pos)
        typ = _type_from_bytes(memoryview(shell)[pos + 4 : pos + 4 + tlen])
        return n, n_valid, valid, typ, pos + 4 + tlen

    def _parse_list_shell(shell):
        """v2 shell (list<struct> shred): list validity + arrow type +
        PFOR-coded offsets over ALL n lists + element validity."""
        import struct as _s

        from .kernels.rle import rle_decode

        n, n_valid, valid, typ, pos = _parse_shell(shell)
        (olen,) = _s.unpack_from("<I", shell, pos)
        pos += 4
        offs = decode_array(bytes(memoryview(shell)[pos : pos + olen])) \
            .to_numpy(zero_copy_only=False)
        pos += olen
        (has_enulls,) = _s.unpack_from("<B", shell, pos)
        pos += 1
        if has_enulls:
            _, emask_len = _s.unpack_from("<QI", shell, pos)
            pos += 12
            evalid = rle_decode(
                memoryview(shell)[pos : pos + emask_len]
            ).astype(bool)
        else:
            evalid = None
        return n, valid, typ, offs, evalid

    def _parse_map_shell(shell):
        """v3 shell (map<string,V> shred): map validity + arrow type +
        PFOR-coded kv offsets over ALL n rows + key dictionary + the
        dict-coded per-position key-index stream."""
        import struct as _s

        n, n_valid, valid, typ, pos = _parse_shell(shell)
        (olen,) = _s.unpack_from("<I", shell, pos)
        pos += 4
        offs = decode_array(bytes(memoryview(shell)[pos : pos + olen])) \
            .to_numpy(zero_copy_only=False)
        pos += olen
        n_keys, kdlen = _s.unpack_from("<HI", shell, pos)
        pos += 6
        key_names = []
        kd = memoryview(shell)[pos : pos + kdlen]
        kpos = 0
        for _ in range(n_keys):
            (klen,) = _s.unpack_from("<H", kd, kpos)
            key_names.append(bytes(kd[kpos + 2 : kpos + 2 + klen]).decode())
            kpos += 2 + klen
        pos += kdlen
        (ilen,) = _s.unpack_from("<I", shell, pos)
        pos += 4
        kidx = decode_array(bytes(memoryview(shell)[pos : pos + ilen])) \
            .to_numpy(zero_copy_only=False)
        return n, valid, typ, offs, key_names, kidx

    def _expand_nulls(arr, n, valid):
        if valid is None:
            return arr
        import numpy as np

        n_valid = len(arr)
        if n_valid == 0:
            return pa.nulls(n, arr.type)
        idx = np.zeros(n, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return arr.take(pa.array(idx, type=pa.int64(), mask=~valid))

    def decode_partition(batches):
        import pyarrow.compute as pc

        from .encode import BLOB_COL_PREFIX

        for b in batches:
            names = set(b.schema.names)
            expect_cols = [c for c in ("chunk_id", "data_crc", "enc_bytes")
                           if c in names]
            for row in range(b.num_rows):
                fpath = b.column("file")[row].as_py()
                # ONE file handle per chunk: the embedded entry comes
                # from the footer already parsed by ParquetFile, and
                # the blob column read below reuses the same handle
                # (the old read_schema + read_table pair opened and
                # footer-parsed every file twice)
                pf = pq.ParquetFile(fpath)
                entry = _read_entry(pf)
                if expect_cols:
                    _verify_entry(
                        entry, fpath,
                        {c: b.column(c)[row].as_py() for c in expect_cols},
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
                    m = ecols[base]
                    if m.get("codec") in ("struct_shred", "list_shred",
                                          "map_shred"):
                        file_cols.append(BLOB_COL_PREFIX + base)  # shell
                        kids = [sub] if sub else list(m["children"])
                        if m["codec"] == "map_shred" and sub:
                            # a key absent from this chunk is simply an
                            # all-null projection, not a missing column
                            kids = [k for k in kids if k in m["children"]]
                        file_cols += [
                            BLOB_COL_PREFIX + f"{base}.{k}" for k in kids
                        ]
                    else:
                        file_cols.append(BLOB_COL_PREFIX + base)
                t = (
                    pf.read(columns=list(dict.fromkeys(file_cols)))
                    if file_cols
                    else None
                )

                def _child(base, fname):
                    blob = t.column(
                        BLOB_COL_PREFIX + f"{base}.{fname}"
                    )[0].as_py()
                    if verify_crc:
                        want = ecols[base]["children"][fname]["crc32"]
                        if zlib.crc32(blob) != want:
                            raise IOError(
                                f"CRC mismatch for {base}.{fname} "
                                f"in {fpath}"
                            )
                    return decode_array(blob)

                def _decode_blob(name):
                    if name in absent:
                        return pa.nulls(entry.get("n_rows", 0),
                                        column_types[name])
                    base, _, sub = name.partition(".")
                    m = ecols[base]
                    if m.get("codec") == "struct_shred":
                        shell = t.column(BLOB_COL_PREFIX + base)[0].as_py()
                        if verify_crc and zlib.crc32(shell) != m["crc32"]:
                            raise IOError(
                                f"CRC mismatch for {base} shell in {fpath}"
                            )
                        n, n_valid, valid, typ, _ = _parse_shell(shell)
                        if sub:  # flat child projection
                            return _expand_nulls(_child(base, sub), n, valid)
                        kids = list(m["children"])
                        children = [_child(base, k) for k in kids]
                        fields = [typ.field(typ.get_field_index(k))
                                  for k in kids]
                        if n_valid == 0:
                            return pa.nulls(n, pa.struct(fields)).cast(typ)
                        st_arr = pa.StructArray.from_arrays(
                            children, fields=fields
                        )
                        return _expand_nulls(st_arr, n, valid).cast(typ)
                    if m.get("codec") == "list_shred":
                        import numpy as np

                        shell = t.column(BLOB_COL_PREFIX + base)[0].as_py()
                        if verify_crc and zlib.crc32(shell) != m["crc32"]:
                            raise IOError(
                                f"CRC mismatch for {base} shell in {fpath}"
                            )
                        n, valid, typ, offs, evalid = _parse_list_shell(shell)
                        n_elems = int(offs[-1]) if len(offs) else 0

                        def _as_list(values):
                            omask = (np.concatenate([~valid, [False]])
                                     if valid is not None else None)
                            off_pa = pa.array(offs, type=pa.int64(),
                                              mask=omask)
                            return pa.LargeListArray.from_arrays(
                                off_pa, values
                            )

                        if sub:  # flat child projection: array<childT>
                            child = _expand_nulls(
                                _child(base, sub), n_elems, evalid
                            )
                            la = _as_list(child)
                            want = column_types.get(name)
                            return (la.cast(want)
                                    if want is not None and la.type != want
                                    else la)
                        st = typ.value_type
                        kids = list(m["children"])
                        fields = [st.field(st.get_field_index(k))
                                  for k in kids]
                        children = [_child(base, k) for k in kids]
                        if n_elems == 0 or (evalid is not None
                                            and not evalid.any()):
                            st_arr = pa.nulls(n_elems, pa.struct(fields))
                        else:
                            st_arr = _expand_nulls(
                                pa.StructArray.from_arrays(children,
                                                           fields=fields),
                                n_elems, evalid,
                            )
                        return _as_list(st_arr).cast(typ)
                    if m.get("codec") == "map_shred":
                        import numpy as np

                        shell = t.column(BLOB_COL_PREFIX + base)[0].as_py()
                        if verify_crc and zlib.crc32(shell) != m["crc32"]:
                            raise IOError(
                                f"CRC mismatch for {base} shell in {fpath}"
                            )
                        n, valid, typ, offs, key_names, kidx = \
                            _parse_map_shell(shell)

                        if sub:  # per-key projection: value of FIRST
                            # occurrence per row (pc.map_lookup parity),
                            # null where the key is absent
                            if sub not in key_names:
                                want = column_types.get(name, typ.item_type)
                                return pa.nulls(n, want)
                            vals = _child(base, sub)
                            i = key_names.index(sub)
                            pos = np.flatnonzero(kidx == i)
                            rows = np.searchsorted(offs, pos,
                                                   side="right") - 1
                            hit_rows, first = np.unique(rows,
                                                        return_index=True)
                            idx = np.zeros(n, dtype=np.int64)
                            idx[hit_rows] = first
                            present = np.zeros(n, dtype=bool)
                            present[hit_rows] = True
                            out = vals.take(pa.array(
                                idx, type=pa.int64(), mask=~present
                            ))
                            want = column_types.get(name)
                            return (out.cast(want)
                                    if want is not None and out.type != want
                                    else out)
                        # full reconstruction: keys from the index
                        # stream, items scattered back from per-key
                        # blobs (stream order within each key)
                        total = len(kidx)
                        keys_arr = (
                            pc.take(pa.array(key_names, typ.key_type),
                                    pa.array(kidx, pa.int64()))
                            if total else pa.array([], typ.key_type)
                        )
                        children = [_child(base, k) for k in key_names]
                        if total:
                            order = np.argsort(kidx, kind="stable")
                            rank = np.empty(total, np.int64)
                            rank[order] = np.arange(total)
                            src = (pa.concat_arrays(children)
                                   if children else
                                   pa.array([], typ.item_type))
                            items_arr = src.take(pa.array(rank, pa.int64()))
                        else:
                            items_arr = pa.array([], typ.item_type)
                        omask = (np.concatenate([~valid, [False]])
                                 if valid is not None else None)
                        off_pa = pa.array(offs.astype(np.int32),
                                          type=pa.int32(), mask=omask)
                        return pa.MapArray.from_arrays(
                            off_pa, keys_arr, items_arr
                        ).cast(typ)
                    if sub:  # non-shredded nested: decode + prune
                        full = _decode_blob(base)
                        if pa.types.is_map(full.type):
                            # generic-path map (unsuitable keys): decode
                            # the whole blob, then arrow's map_lookup
                            return pc.map_lookup(full, query_key=sub,
                                                 occurrence="first")
                        return pc.struct_field(full, sub)
                    blob = t.column(BLOB_COL_PREFIX + name)[0].as_py()
                    if verify_crc:
                        expect_crc = m["crc32"]
                        if zlib.crc32(blob) != expect_crc:
                            raise IOError(
                                f"CRC mismatch for {name} in {fpath}"
                            )
                    arr = decode_array(blob)
                    want = column_types.get(name)
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
