"""Distributed encode path: DataFrame → encoded chunk files + manifest rows.

The Spark-first re-expression of the reference's write path
(⟨ref⟩ writer.go; SURVEY.md §3.1/§3.4): instead of row-at-a-time
``Writer.Write`` + row-group flushes, the whole table is

    withColumn(_ck = pmod(xxhash64(part_key, turn_block), num_chunks))
      .withColumn(_g = pmod(hash(_ck), n_groups))   # FSST reuse group
      .repartition(n_tasks, _ck)             # the one shuffle
      .mapInArrow(encode_task)               # sort (M8), numpy kernels

Chunk assignment is *content-addressed* (hash of key + turn-block salt),
not sampled ranges: deterministic across job restarts (checkpoint
resume) and skew-bounded (a conversation longer than ``salt_block``
turns is split across chunks at turn-block boundaries — explicit skew
handling per north_rule). Each task writes its chunk files directly
(atomic tmp+rename) and emits one manifest-entry JSON per chunk. The
direct path runs the same task body over pre-grouped input files, and a
small write runs it in the driver process (``table._encode``).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import manifest, shred
from .codec import content_crc, encode_array
from .plan import choose_codec, profile_array

__all__ = ["make_encode_fn", "partition_chunks", "file_chunks",
           "BLOB_COL_PREFIX"]

# Chunk file layout: ONE row, one parquet COLUMN per encoded blob
# (named b_<column>). Parquet's columnar projection then means reading
# 2 of 11 columns reads only those columns' bytes from storage — the
# on-disk counterpart of P1 projection pushdown. All per-column
# metadata (codec chain, stats, CRC) lives in the embedded manifest
# entry (schema metadata, stored in the footer's key-value metadata),
# which the footer read fetches without touching data pages.

_MANIFEST_META_KEY = b"pgs_manifest_entry"
BLOB_COL_PREFIX = "b_"


def make_chunk_id(prefix: str, n: int) -> str:
    """The id of chunk number ``n`` under ``prefix`` (the one spelling
    of a chunk id; upsert finds a key's chunk by it)."""
    return f"{prefix}{n:06d}"


def _encode_one_column(arr: pa.Array, name: str,
                       override: tuple[str, str] | None,
                       with_bloom: bool = False,
                       with_token_bloom: bool = False,
                       cache: dict | None = None) -> tuple[bytes, dict]:
    st = profile_array(arr, name)
    codec, entropy = override if override else choose_codec(st)
    blob = encode_array(arr, codec, entropy, cache=cache, name=name)
    # patched-FOR upgrade: when outliers inflate the frame width (e.g.
    # cross-conversation ts jumps in a sorted chunk), the PFOR sibling
    # usually wins — encode both, keep the smaller (cheap for numerics)
    if override is None and codec in ("delta", "for"):
        sibling = "deltap" if codec == "delta" else "pfor"
        alt = encode_array(arr, sibling, entropy)
        if len(alt) < len(blob):
            blob, codec = alt, sibling
    # decimal-float upgrade (ALP): doubles that are decimals in
    # disguise become scaled ints + PFOR — usually far smaller than
    # byte-stream-split + zstd
    if override is None and codec == "bss" and st.arrow_type == "double":
        from .kernels.alp import alp_probe

        a = arr.drop_null() if arr.null_count else arr
        if alp_probe(a.to_numpy(zero_copy_only=False)) is not None:
            alt = encode_array(arr, "alp", "none")
            if len(alt) < len(blob):
                blob, codec, entropy = alt, "alp", "none"
    # dictionary/codec fallback guard (parquet-go dict-page fallback parity):
    # if the chosen encoding did not beat raw bytes, drop to plain+zstd.
    if override is None and len(blob) > arr.nbytes:
        alt = encode_array(arr, "plain", "zstd")
        if len(alt) < len(blob):
            blob, codec, entropy = alt, "plain", "zstd"
    meta = {
        "codec": codec,
        "entropy": entropy,
        "n": st.n,
        "nulls": st.null_count,
        "min": manifest.stat_value(st.min_val),
        "max": manifest.stat_value(st.max_val),
        "raw_bytes": int(arr.nbytes),
        "enc_bytes": len(blob),
        "crc32": zlib.crc32(blob),
    }
    # exact per-chunk sum for numeric columns → table-level
    # sum/avg answerable from the manifest alone (aggregate pushdown;
    # ints sum exactly as Python bigints, floats as float64)
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        import pyarrow.compute as pc

        s = pc.sum(arr)
        if s.is_valid:
            v = s.as_py()
            meta["sum"] = float(v) if pa.types.is_floating(t) else int(v)
    if with_bloom:
        import pyarrow.compute as pc

        from .kernels.bloom import bloom_build

        meta["bloom"] = bloom_build(
            pc.unique(arr.drop_null() if arr.null_count else arr)
        )
    if with_token_bloom:
        # token-level bloom over the chunk's distinct whitespace tokens
        # (a per-chunk inverted-index sketch: full-text point lookups
        # prune chunks before any decode) — all arrow C kernels
        import pyarrow.compute as pc

        from .kernels.bloom import bloom_build

        a = arr.drop_null() if arr.null_count else arr
        toks = pc.unique(pc.list_flatten(pc.split_pattern(a, " ")))
        meta["token_bloom"] = bloom_build(toks)
    return blob, meta


def _write_chunk_file(path: str, tbl: pa.Table, entry: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = tbl.replace_schema_metadata(
        {_MANIFEST_META_KEY: json.dumps(entry).encode()}
    )
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    os.close(fd)
    try:
        pq.write_table(tbl, tmp, compression="none")  # blobs are pre-compressed
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def embedded_entry(footer_kv: dict | None) -> dict | None:
    """Manifest entry embedded in a chunk file, from its footer's
    key-value metadata (``pq.FileMetaData.metadata``)."""
    raw = (footer_kv or {}).get(_MANIFEST_META_KEY)
    return json.loads(raw) if raw else None


def read_chunk_entry(path: str) -> dict | None:
    """Manifest entry embedded in an existing chunk file (resume path)."""
    try:
        return embedded_entry(pq.read_metadata(path).metadata)
    except Exception:
        return None  # unreadable/partial file → re-encode


def chunk_content_crc(chunk: pa.Table) -> int:
    """Chunk-level content fingerprint: CRC32 chained over every
    column's canonical bytes in sorted-name order. Stored in the
    manifest entry (``data_crc``) and compared (a) before reusing a
    committed chunk on resume and (b) against the file-embedded entry
    when decoding a historical snapshot (time-travel integrity)."""
    crc = 0
    for name in sorted(chunk.column_names):
        crc = zlib.crc32(name.encode(), crc)
        crc = content_crc(chunk.column(name).combine_chunks(), crc)
    return crc


def _chunk_matches(prev: dict, chunk: pa.Table,
                   key_cols: tuple[str, ...]) -> bool:
    """Resume guard: a committed chunk is reused only when its stored
    content fingerprint matches the current slice — row count or
    key-range equality alone would silently serve stale data after a
    rewrite that changed non-key values. The key-range min/max check
    runs first as an O(1) negative screen; the CRC pass is
    memcpy-speed, ~100x cheaper than re-encoding."""
    kc = key_cols[0]
    m = prev.get("columns", {}).get(kc)
    if m is not None and kc in chunk.column_names and chunk.num_rows:
        col = chunk.column(kc)
        # rows are sorted by key within the chunk slice
        if (m.get("min") != manifest.stat_value(col[0].as_py())
                or m.get("max") != manifest.stat_value(col[-1].as_py())):
            return False
    return prev.get("data_crc") == chunk_content_crc(chunk)


def _encode_or_reuse(chunk: pa.Table, chunk_id: str, table_dir: str,
                     key_cols: tuple[str, ...], overrides: dict,
                     resume: bool, bloom_cols: tuple[str, ...],
                     attempt: str,
                     token_bloom_cols: tuple[str, ...] = (),
                     cache: dict | None = None,
                     file_token: str = "") -> dict:
    """Encode one chunk table → write its file → manifest entry; reuse
    a committed fingerprint-identical chunk when ``resume``. A rewrite
    passes ``file_token``, so its file overwrites none a snapshot reads."""
    fname = (f"chunk-{chunk_id}-{file_token}.parquet" if file_token
             else f"chunk-{chunk_id}.parquet")
    fpath = os.path.join(table_dir, "chunks", fname)
    if resume and os.path.exists(fpath):
        prev = read_chunk_entry(fpath)
        if (prev is not None and prev["n_rows"] == chunk.num_rows
                and _chunk_matches(prev, chunk, key_cols)):
            prev["reused"] = True
            prev["attempt"] = attempt
            return prev
    t0 = time.time()
    blobs, columns_meta = {}, {}
    for name in chunk.column_names:
        arr = chunk.column(name).combine_chunks()
        shredded = None if name in overrides else shred.shred(arr)
        if shredded is not None:
            parts, columns_meta[name] = shredded
            for suffix, blob in parts.items():
                key = f"{name}.{suffix}" if suffix else name
                blobs[BLOB_COL_PREFIX + key] = blob
            continue
        blob, meta = _encode_one_column(
            arr, name, overrides.get(name),
            with_bloom=name in bloom_cols,
            with_token_bloom=name in token_bloom_cols,
            cache=cache,
        )
        columns_meta[name] = meta
        blobs[BLOB_COL_PREFIX + name] = blob
    entry = {
        "chunk_id": chunk_id,
        "file": os.path.join("chunks", fname),
        "n_rows": chunk.num_rows,
        "data_crc": chunk_content_crc(chunk),
        "sort_order": list(key_cols),
        "columns": columns_meta,
        "raw_bytes": sum(m["raw_bytes"] for m in columns_meta.values()),
        "enc_bytes": sum(m["enc_bytes"] for m in columns_meta.values()),
        "engine": manifest.ENGINE_VERSION,
        "attempt": attempt,
        "reused": False,
        "encode_s": 0.0,
    }
    ftbl = pa.table(
        {k: pa.array([v], pa.large_binary()) for k, v in blobs.items()}
    )
    entry["encode_s"] = round(time.time() - t0, 4)
    _write_chunk_file(fpath, ftbl, entry)
    return entry


def make_encode_fn(chunks, table_dir: str, key_cols: tuple[str, ...],
                   resume: bool = True, bloom_cols: tuple[str, ...] = (),
                   token_bloom_cols: tuple[str, ...] = (),
                   file_token: str = ""):
    """Build the mapInArrow UDF both write paths run, the one encode
    task body: iterator[RecordBatch] → (chunk_id, entry_json) rows.
    ``chunks(batches)`` yields the task's ``(group, chunk_id, sorted
    table)`` triples (``partition_chunks`` or ``file_chunks``), the
    chunks of one FSST reuse group consecutive and in chunk-id order;
    each is encoded in that order. The entry's ``attempt`` names the
    group and the run: ``task<attempt id>-g<group>`` in a Spark task,
    ``driver<token>-g<group>`` with a fresh token per driver run."""

    def encode_task(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        task = (f"task{tc.taskAttemptId()}" if tc
                else f"driver{uuid.uuid4().hex[:12]}")
        group = enc_cache = None
        for g, chunk_id, chunk in chunks(batches):
            if g != group:
                # one symbol-table cache per REUSE GROUP: consecutive
                # chunks of a column share a trained FSST table
                # (determinism: the cache never outlives the group,
                # and chunk order in it is fixed). A task may run
                # several groups; the entry's attempt names the group.
                group, enc_cache = g, {}
            entry = _encode_or_reuse(
                chunk, chunk_id, table_dir, key_cols, {}, resume,
                bloom_cols, f"{task}-g{g}", token_bloom_cols,
                cache=enc_cache, file_token=file_token,
            )
            yield pa.RecordBatch.from_pydict(
                {"chunk_id": pa.array([chunk_id]),
                 "entry_json": pa.array([json.dumps(entry)])}
            )

    return encode_task


def partition_chunks(key_cols: tuple[str, ...], chunk_prefix: str = ""):
    """Shuffle-path chunks: the task's rows carry their chunk number in
    ``_ck`` and their reuse group in ``_g``; each ``_ck`` group, sorted
    on ``key_cols``, is one chunk, yielded in ``(_g, _ck)`` order.
    ``chunk_prefix`` namespaces chunk ids (streaming micro-batches use
    one prefix per batch so appends never collide)."""
    sort_keys = ([("_g", "ascending"), ("_ck", "ascending")]
                 + [(k, "ascending") for k in key_cols])

    def chunks(batches):
        import pyarrow.compute as pc

        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        # sort HERE (pyarrow radix/merge sort) instead of a JVM
        # sortWithinPartitions: the keys are unique, so the total order
        # — and therefore every chunk's bytes and data_crc — is
        # identical, at ~1/20th the cost of Spark's row sorter
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=sort_keys)) \
            .combine_chunks()
        g = tbl.column("_g").to_numpy(zero_copy_only=False)
        ck = tbl.column("_ck").to_numpy(zero_copy_only=False)
        data = tbl.drop_columns(["_g", "_ck"])
        # the task holds several chunk keys (and groups): rows are
        # sorted by (_g, _ck) and _g is a function of _ck, so each
        # chunk is a contiguous slice.
        bounds = np.flatnonzero(np.diff(ck)) + 1
        starts = np.concatenate([[0], bounds, [len(ck)]])
        for i in range(len(starts) - 1):
            lo, hi = int(starts[i]), int(starts[i + 1])
            yield (int(g[lo]), make_chunk_id(chunk_prefix, int(ck[lo])),
                   data.slice(lo, hi - lo))

    return chunks


def file_chunks(key_cols: tuple[str, ...]):
    """Direct-path chunks: each task READS ITS OWN input parquet files
    with pyarrow — no JVM scan, no shuffle, no Arrow JVM→Python
    transfer (only file paths cross the boundary). One input row per
    reuse group: ``group``, its ``chunk_id`` list and the matching
    ``files`` list (one list of paths per chunk), in encode order. The
    right plan when the input is already conversation-grouped: at 1000
    executors every task streams its shard straight from storage into
    the kernels."""
    sort_keys = [(k, "ascending") for k in key_cols]

    def chunks(batches):
        import pyarrow.compute as pc

        for b in batches:
            for row in b.to_pylist():
                for chunk_id, files in zip(row["chunk_id"], row["files"]):
                    tbl = pa.concat_tables([pq.read_table(f) for f in files])
                    if tbl.num_rows == 0:
                        continue
                    idx = pc.sort_indices(tbl, sort_keys=sort_keys)
                    yield (row["group"], chunk_id,
                           tbl.take(idx).combine_chunks())

    return chunks
