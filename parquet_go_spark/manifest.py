"""Iceberg-style manifests: per-chunk lineage/metrics + atomic commit.

Plays the role of Parquet's FileMetaData footer + ColumnMetaData
(parquet.thrift:1257-1314, 875-940) at table granularity: every encoded
chunk gets a manifest entry with per-column codec chain, sizes, stats,
CRC and lineage; a snapshot commit is an atomic rename of
``_manifest_list.json``. This is what makes encode jobs resumable from
checkpoint (north_rule) — a rerun skips chunk files that are already
present and fingerprint-valid.

Manifests are SHARDED (Iceberg manifest-list parity): entries are
grouped by chunk-id prefix (``chunk_id[:-4]`` → ≤10⁴ chunks per
shard), each shard is one immutable JSON file named after the snapshot
that created it, and a commit reuses the parent's file for any shard
whose entry list is unchanged. An append that touches one shard
rewrites ONE file — at the 10¹²-turn frame (~4M chunks) a streaming
micro-batch commit stays O(batch), not O(table).

Layout under a table dir:

    chunks/chunk-<key>.parquet           one file per chunk (blob rows)
    _manifests/manifest-<token>-[m-]<shard>.json
                                         entries for one shard
    _manifests/snap-<n>.json             snapshot n's listing
                                         (shard refs + metadata)
    _manifest_list.json                  current snapshot pointer

``_shard_file`` names every shard file: ``<shard>`` is the shard key
(``root`` if empty), ``<token>`` the snapshot id on the driver plane or
a random per-commit token on the task plane, ``m-`` marks a shard a
task-plane append merged.

Every ref in a listing carries its shard's totals (n_chunks, n_rows,
raw_bytes, enc_bytes). Tables from before 0.2 (one flat
``manifest-<n>.json`` per snapshot, or refs without totals) are
rejected by ``load_refs`` with IncompatibleTableError, not read.

Two manifest planes, one per-entry logic: every reader of chunk
entries (read_table's pruning, search_text's token blooms,
column_stats, expire_snapshots' keep-set) is one ``fn(entries) ->
rows``. On the driver plane it runs over the loaded entry list; on the
task plane ``scan_shards`` runs it inside Spark tasks, shard file by
shard file, and returns the rows as a DataFrame. ``_task_plane`` is the
one test that picks the plane, for commits and reads alike.

Every task-plane job is one ``fn(rows) -> rows`` run by ``_run_tasks``
(``mapInArrow``): the ``scan_shards`` shard scan; the shard-file write
and the append merge of ``commit_in_tasks``; and the chunk-dir listing
(``_list_chunks``) and chunk unlink (``_unlink_chunks``) of
expire_snapshots, whose driver plane applies the same two functions.
Driver-held job input (shard file names, merge work, the chunks dir;
table.py's decode rows and direct-path file groups too) reaches the
tasks through ``_rows_df`` only.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import tempfile
import uuid
from typing import Any

__all__ = ["commit", "commit_shards", "commit_in_tasks", "load",
           "load_refs", "scan_shards", "expire_snapshots",
           "stat_value", "check_chunk_layout",
           "ENGINE_VERSION", "IncompatibleTableError"]

ENGINE_VERSION = "parquet_go_spark-0.2.0"

# Chunk FILE layout generation: bumped when the on-disk chunk parquet
# schema changes incompatibly (0.1 = row-per-blob; 0.2 = one row with
# b_<col> blob columns + embedded entry). Entries record the writing
# engine; readers refuse older layouts with a migration error instead
# of failing half-way through a scan (or silently mis-pruning on a
# bloom whose hash scheme changed between layouts).
MIN_READABLE_LAYOUT = (0, 2)

# From this many chunks on the manifest plane goes DISTRIBUTED: commits
# write shard files from executor tasks (driver sees O(shards)
# summaries), and reads, column stats and expire_snapshots handle the
# per-chunk entries inside tasks through ``scan_shards`` (the driver
# never materializes them). Tasks split the work by shard file (10⁴
# chunk ids, ``_shard_of``), so a one-shard table stays on the driver.
# BENCH/BASELINE.md, "Round 15: manifest-plane crossover" (4 vCPU,
# local[4], medians of 6 alternating runs): up to 10,000 chunks (one
# shard) the driver won every op, e.g. lookup 1.71 vs 2.39 s; at 16,384
# (2 shards) the planes tie (commit, lookup, stats and expire sum to
# 8.5 s on the driver, 8.7 on tasks); at 65,536 (7 shards) tasks look
# up in 3.9 s vs 9.7 and keep the driver at 144 MB RSS vs 1.36 GB.
# Only ``_task_plane`` reads it, at call time.
DISTRIBUTED_MANIFEST_MIN_CHUNKS = 10**4 + 1

# A driver-plane read whose surviving chunks hold at most this many raw
# bytes in the columns it decodes runs the decoder in the driver process
# and keeps the decoded table, which Spark gets as a local relation when
# an action first needs one; larger reads (and every task-plane read)
# decode in a Spark job. A point lookup then skips the job launch,
# which costs several times its ~60 KB decode. The worst case for the
# driver is an unfiltered read that then runs a Spark action, which
# ships every decoded row to the JVM: on a 4-core host at local[4] both
# sites took ~0.85 s for one of ~16.5 MB raw, so the bound sits below
# half that. Only ``_driver_decode`` reads it, at call time.
DRIVER_DECODE_MAX_RAW_BYTES = 6 << 20

# A driver-plane write encodes in the driver process, with no exchange
# or Python task launch, when its input bytes (write_table: Catalyst's
# estimate; write_table_direct: file bytes) plus DRIVER_ENCODE_CHUNK_BYTES
# per chunk are at most DRIVER_ENCODE_MAX_BYTES. The driver has one core
# and spends ~15 ms per chunk: at local[4] it lost at 32 chunks even on
# 0.2 MB (BENCH/BASELINE.md, "Round 11: encode-site crossover").
DRIVER_ENCODE_MAX_BYTES = 6 << 20
DRIVER_ENCODE_CHUNK_BYTES = 320 << 10

# per-shard totals every ref carries (listing totals are their sums)
_TOTALS = ("n_chunks", "n_rows", "raw_bytes", "enc_bytes")


class IncompatibleTableError(RuntimeError):
    """Table contains chunk files written by an incompatible engine
    layout; rewrite (decode with the old engine, re-encode) to read."""


def _entry_layout(e: dict) -> tuple[int, int]:
    eng = e.get("engine") or ""
    try:
        ver = eng.rsplit("-", 1)[1].split(".")
        return int(ver[0]), int(ver[1])
    except (IndexError, ValueError):
        return (0, 1)  # pre-0.2 entries lack/garble the engine field


def check_chunk_layout(entries: list[dict]) -> None:
    """Raise IncompatibleTableError if any entry's chunk file uses a
    layout older than this reader supports (decode would otherwise
    fail mid-scan with an opaque parquet column error — and pre-0.2
    blooms use a different hash scheme, so trusting them could
    silently skip live chunks)."""
    for e in entries:
        if _entry_layout(e) < MIN_READABLE_LAYOUT:
            raise IncompatibleTableError(
                f"chunk {e.get('chunk_id')!r} was written by "
                f"{e.get('engine') or 'a pre-0.2 engine'} using the "
                "row-per-blob chunk layout; this reader supports layout "
                f">= {'.'.join(map(str, MIN_READABLE_LAYOUT))}. "
                "Migrate by decoding the table with the matching engine "
                "version and re-encoding with write_table()."
            )


def stat_value(v: Any):
    """Canonical JSON-typed form of a column min/max statistic.

    Numbers stay numbers (numeric comparison in pruning), strings stay
    strings, datetimes become ISO strings (fixed-width → lexicographic
    order == chronological order). Unknown types map to None so pruning
    stays conservative (a chunk without comparable stats is never
    skipped) — the same ordering discipline Parquet pins per type via
    ColumnOrder (parquet.thrift:1045-1111)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _atomic_write_json(path: str, obj: Any) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
        os.replace(tmp, path)  # atomic on POSIX
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _shard_of(chunk_id: str) -> str:
    """Stable shard key: everything but the last 4 digits → up to 10⁴
    chunk ids per shard, and a chunk_prefix (streaming batch, compaction
    namespace) maps to its own shard family."""
    return chunk_id[:-4] if len(chunk_id) > 4 else ""


def _group_by_shard(entries: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for e in entries:
        out.setdefault(_shard_of(e["chunk_id"]), []).append(e)
    for ents in out.values():
        ents.sort(key=lambda e: e["chunk_id"])
    return out


_LOCK_TIMEOUT_S = 120.0


class CommitConflict(RuntimeError):
    """Another writer holds the table's commit lock, or (StaleParent)
    committed after this commit's parent was read."""


class StaleParent(CommitConflict):
    """The snapshot this commit was prepared against is no longer
    current (optimistic concurrency: re-prepare against the new parent
    and retry)."""


_EXPECT_ANY = object()


def _acquire_commit_lock(table_dir: str, timeout: float):
    """O_CREAT|O_EXCL lock file around the read-merge-swing window so
    two concurrent writers cannot both commit against the same parent
    and silently drop one side's entries. Stale locks (older than
    ``_LOCK_TIMEOUT_S``, e.g. a crashed driver) are broken ATOMICALLY:
    the breaker renames the stale lock to a unique tombstone first —
    os.rename succeeds for exactly one racer, so two blocked writers
    that both observe staleness cannot each unlink the other's freshly
    re-created lock and both enter the critical section."""
    import time as _t

    path = os.path.join(table_dir, "_commit.lock")
    os.makedirs(table_dir, exist_ok=True)
    deadline = _t.monotonic() + timeout
    first = True
    while True:
        # EVERY blocked iteration honors the deadline and backs off —
        # the claim/vanish retry paths below all loop back through here,
        # so lock churn cannot busy-spin or outlive ``timeout``
        if not first:
            if _t.monotonic() >= deadline:
                raise CommitConflict(
                    f"commit lock {path} held by another writer"
                )
            _t.sleep(0.05)
        first = False
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {_t.time()}".encode())
            os.close(fd)
            return path
        except FileExistsError:
            pass
        try:
            # re-stat IMMEDIATELY before the claim: shrinks the window
            # where a lock deleted-and-recreated fresh between stats
            # could be stolen to two syscalls
            if _t.time() - os.path.getmtime(path) <= _LOCK_TIMEOUT_S:
                continue  # held and live — wait
            # claim-by-rename: only ONE racer wins; losers get ENOENT
            tomb = f"{path}.stale-{os.getpid()}-{_t.time_ns()}"
            os.rename(path, tomb)
        except OSError:
            continue  # lock vanished / lost the claim race — retry
        try:
            stole_fresh = (
                _t.time() - os.path.getmtime(tomb) <= _LOCK_TIMEOUT_S
            )
        except OSError:
            stole_fresh = False
        if stole_fresh:
            # the rename grabbed a lock re-created fresh inside the
            # two-syscall window: give it back (link fails EEXIST if a
            # third writer already locked; that residual sliver is the
            # documented remaining race)
            try:
                os.link(tomb, path)
            except OSError:
                pass
        try:
            os.unlink(tomb)
        except OSError:
            pass


@contextlib.contextmanager
def _commit_lock(table_dir: str, timeout: float):
    lock = _acquire_commit_lock(table_dir, timeout)
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


@contextlib.contextmanager
def _locked_parent(table_dir: str, timeout: float, expect_parent):
    """Hold the commit lock and yield the current listing (the parent
    of the snapshot being committed). StaleParent if ``expect_parent``
    is given and is no longer the current snapshot id."""
    with _commit_lock(table_dir, timeout):
        prev = load_refs(table_dir)
        cur = prev["snapshot_id"] if prev else None
        if expect_parent is not _EXPECT_ANY and cur != expect_parent:
            raise StaleParent(f"prepared against snapshot {expect_parent}, "
                              f"current is {cur}")
        yield prev


def commit(table_dir: str, entries: list[dict], schema_ddl: str,
           extra: dict | None = None, append: bool = False,
           lock_timeout: float = 30.0, expect_parent=_EXPECT_ANY) -> int:
    """Write changed manifest shards + snap-<n>.json, then atomically
    swing _manifest_list.json — all under the table's commit lock
    (optimistic writers queue; a crashed writer's stale lock is
    broken after a timeout).

    Shard-incremental: only the shards this commit TOUCHES are read
    and rewritten (see ``_merge_shard``). ``append=True`` merges into
    the parent snapshot's entries keyed by chunk_id; untouched shards
    carry their file AND their per-shard totals forward, so listing
    totals are O(shards) sums and the driver never materializes the
    full entry list. At the 10¹²-turn frame a streaming micro-batch
    commit therefore reads O(batch) manifest bytes, not O(table).

    ``append=False`` drops every parent shard the entries do not touch,
    so a rewrite built from an earlier listing passes its id as
    ``expect_parent``: StaleParent (a CommitConflict) if it moved."""
    with _locked_parent(table_dir, lock_timeout, expect_parent) as prev:
        snapshot_id = (prev["snapshot_id"] + 1) if prev else 0
        prev_refs = ({r["shard"]: r for r in prev["manifest_shards"]}
                     if prev else {})
        new_by_shard = _group_by_shard(entries)
        refs = [r for s, r in prev_refs.items()
                if append and s not in new_by_shard]
        for shard, ents in new_by_shard.items():
            refs.append(_merge_shard(
                table_dir, shard, prev_refs.get(shard), ents,
                _shard_file(snapshot_id, shard), append,
            ))
        return _publish(table_dir, prev, refs, schema_ddl, extra)


def _shard_file(token, shard: str, merged: bool = False) -> str:
    """The one shard file name rule (see the module docstring)."""
    return f"manifest-{token}-{'m-' if merged else ''}{shard or 'root'}.json"


def _shard_totals(ents: list[dict]) -> dict:
    return {
        "n_chunks": len(ents),
        "n_rows": sum(e["n_rows"] for e in ents),
        "raw_bytes": sum(e["raw_bytes"] for e in ents),
        "enc_bytes": sum(e["enc_bytes"] for e in ents),
    }


def _read_shard(table_dir: str, ref: dict) -> list[dict]:
    with open(os.path.join(table_dir, ref["file"])) as f:
        return json.load(f)["entries"]


def _task_plane(spark, n_chunks: int) -> bool:
    """The plane test: per-chunk entries of a table with ``n_chunks``
    chunks are handled inside Spark tasks (shard-writing commits,
    ``scan_shards`` reads) at or above DISTRIBUTED_MANIFEST_MIN_CHUNKS,
    one more than a shard holds, so a one-shard table never takes the
    task plane; and only when there is a session to run them (``spark``
    is None for driver-only calls of column_stats and expire_snapshots)."""
    return spark is not None and n_chunks >= DISTRIBUTED_MANIFEST_MIN_CHUNKS


def _driver_decode(raw_bytes: int) -> bool:
    """The decode-site test of a driver-plane read: chunks whose decoded
    columns hold ``raw_bytes`` raw bytes in total decode on the driver
    at or below DRIVER_DECODE_MAX_RAW_BYTES, and in a Spark job above
    it."""
    return raw_bytes <= DRIVER_DECODE_MAX_RAW_BYTES


def _driver_encode(size: int | None, n_chunks: int) -> bool:
    """The encode-site test of a driver-plane write: on the driver when
    ``size`` input bytes (None: unknown, tasks) and ``n_chunks`` chunks
    weigh at most DRIVER_ENCODE_MAX_BYTES, in Spark tasks otherwise."""
    return (size is not None and size + n_chunks * DRIVER_ENCODE_CHUNK_BYTES
            <= DRIVER_ENCODE_MAX_BYTES)


@functools.lru_cache(maxsize=None)
def _schemas(ddl: str):
    """``ddl``'s Spark schema and its Arrow form, parsed once per DDL
    string (the parse is a py4j call, ~2 ms). Both are shared between
    callers, so no caller may mutate them."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    return schema, to_arrow_schema(schema)


def _run_tasks(df, fn, ddl: str):
    """The one task runner of every task-plane manifest job: each task
    hands its input rows (dicts keyed by ``df``'s columns) to
    ``fn(rows) -> rows`` and yields the output rows (dicts keyed by the
    ``ddl`` column names) as Arrow batches of at most 65,536 rows
    (``mapInArrow``). Returns the lazy output DataFrame."""
    import pyarrow as pa

    schema, arrow_schema = _schemas(ddl)

    def run(batches):
        out = iter(fn(r for b in batches for r in b.to_pylist()))
        while rows := list(itertools.islice(out, 65_536)):
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def _arrow_rows(rows: list[dict], ddl: str, n_slices: int = 1):
    """Driver-held rows (dicts keyed by the ``ddl`` column names) as an
    Arrow table of ``ddl``'s schema with one record batch per slice:
    slice k of m = ``n_slices`` is ``rows[k*n//m:(k+1)*n//m]``."""
    import pyarrow as pa

    arrow_schema = _schemas(ddl)[1]
    n = len(rows)
    return pa.Table.from_batches(
        [pa.RecordBatch.from_pylist(
            rows[k * n // n_slices:(k + 1) * n // n_slices],
            schema=arrow_schema) for k in range(n_slices)],
        schema=arrow_schema)


def _rows_df(spark, rows: list[dict], ddl: str):
    """The one way driver-held rows become the input of a Python task
    job: ``_arrow_rows`` in m = min(len(rows), defaultParallelism)
    slices, read by the JVM, so no Python stage runs before the job.
    Each slice is one partition on either side of
    spark.sql.execution.arrow.localRelationThreshold: below it Spark
    scans the local relation as these m slices, above it it makes each
    Arrow batch a partition."""
    par = spark.sparkContext.defaultParallelism
    return spark.createDataFrame(
        _arrow_rows(rows, ddl, min(len(rows), par) or 1), _schemas(ddl)[0])


def scan_shards(spark, table_dir: str, shard_files: list[str], fn,
                ddl: str):
    """The task plane of every manifest reader: each task reads whole
    shard files (``shard_files``, relative to ``table_dir``) with
    ``_read_shard`` and applies ``fn(entries) -> rows`` (``ddl``
    columns) to each. The driver plane applies the same ``fn`` to the
    loaded entry list, so a reader writes its per-entry logic once.
    Returns the lazy DataFrame of all rows; the driver never sees a
    chunk entry."""

    def scan(rows):
        for r in rows:
            yield from fn(_read_shard(table_dir, r))

    return _run_tasks(
        _rows_df(spark, [{"file": f} for f in shard_files], "file string"),
        scan, ddl)


def _merge_shard(table_dir: str, shard: str, parent_ref: dict | None,
                 ents: list[dict], fname: str, append: bool = True) -> dict:
    """The shard-merge rule, shared by the driver commit and the
    distributed append's merge tasks. On append, ``ents`` override the
    parent shard's entries by chunk_id (same id overrides — idempotent
    batch replay). A shard whose resulting entry list equals its
    parent's reuses the parent's file; otherwise ``_manifests/<fname>``
    is written. Returns the shard's ref with its totals."""
    file = None
    if parent_ref is not None:
        parent = _read_shard(table_dir, parent_ref)
        if append:
            by_id = {e["chunk_id"]: e for e in parent}
            by_id.update((e["chunk_id"], e) for e in ents)
            ents = sorted(by_id.values(), key=lambda e: e["chunk_id"])
        if ents == parent:
            file = parent_ref["file"]
    if file is None:
        file = os.path.join("_manifests", fname)
        _atomic_write_json(os.path.join(table_dir, file), {"entries": ents})
    return {"shard": shard, "file": file, **_shard_totals(ents)}


def _publish(table_dir: str, prev: dict | None, refs: list[dict],
             schema_ddl: str, extra: dict | None) -> int:
    """Write snap-<n>.json listing ``refs`` (the FULL snapshot) and
    swing _manifest_list.json to it. The caller holds the commit lock."""
    snapshot_id = (prev["snapshot_id"] + 1) if prev else 0
    refs = sorted(({"shard": r["shard"], "file": r["file"],
                    **{k: r[k] for k in _TOTALS}} for r in refs),
                  key=lambda r: r["shard"])
    listing = {
        "snapshot_id": snapshot_id,
        "engine": ENGINE_VERSION,
        "schema_ddl": schema_ddl,
        "manifest_shards": refs,
        **{k: sum(r[k] for r in refs) for k in _TOTALS},
        "extra": extra or {},
        "parent_snapshot_id": prev["snapshot_id"] if prev else None,
    }
    _atomic_write_json(
        os.path.join(table_dir, "_manifests", f"snap-{snapshot_id}.json"),
        listing,
    )
    _atomic_write_json(os.path.join(table_dir, "_manifest_list.json"), listing)
    return snapshot_id


def _read_entries(table_dir: str, listing: dict) -> list[dict]:
    entries: list[dict] = []
    for ref in listing["manifest_shards"]:
        entries.extend(_read_shard(table_dir, ref))
    entries.sort(key=lambda e: e["chunk_id"])
    return entries


def load_refs(table_dir: str, snapshot_id: int | None = None) -> dict | None:
    """Snapshot listing WITHOUT materializing chunk entries — shard
    refs + totals only. This is the scale-safe entry point: at the
    10¹²-turn frame (~4M chunks) the entries are GBs of JSON that
    must stay in executor tasks (read_table's distributed pruning),
    never on the driver. ``load`` keeps the eager-entry contract for
    small tables and internal rewrite ops.

    Every table operation reaches the listing through here, so this is
    the manifest-format gate: a pre-0.2 listing (no ``manifest_shards``,
    or a ref without per-shard totals) raises IncompatibleTableError
    before anything is read, written or deleted."""
    lpath = os.path.join(table_dir, "_manifest_list.json")
    if not os.path.exists(lpath):
        return None
    with open(lpath) as f:
        listing = json.load(f)
    if snapshot_id is not None and snapshot_id != listing["snapshot_id"]:
        spath = os.path.join(table_dir, "_manifests",
                             f"snap-{snapshot_id}.json")
        if not os.path.exists(spath):
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not found in {table_dir}"
            )
        with open(spath) as f:
            listing = json.load(f)
    refs = listing.get("manifest_shards")
    if refs is None or any(k not in r for r in refs for k in _TOTALS):
        raise IncompatibleTableError(
            f"snapshot {listing.get('snapshot_id')} of {table_dir} uses "
            "the pre-0.2 manifest format (a single-file manifest, or "
            "shard refs without per-shard totals); this engine reads "
            "format 0.2 only. Migrate by decoding the table with the "
            "matching engine version and re-encoding with write_table()."
        )
    return listing


def load(table_dir: str, snapshot_id: int | None = None) -> dict | None:
    """Load a snapshot (listing + chunk entries); None if uncommitted.

    ``snapshot_id`` selects a historical snapshot (time travel — shard
    files are immutable and retained per snapshot). Decode verifies
    each chunk file's embedded entry against the snapshot's
    (chunk_id/data_crc/enc_bytes), so a chunk rewritten or GC'd after
    the snapshot fails loudly instead of decoding wrong data."""
    listing = load_refs(table_dir, snapshot_id)
    if listing is None:
        return None
    listing["entries"] = _read_entries(table_dir, listing)
    listing["n_chunks"] = len(listing["entries"])
    listing["n_rows"] = sum(e["n_rows"] for e in listing["entries"])
    return listing


def commit_shards(table_dir: str, shard_refs: list[dict],
                  schema_ddl: str, extra: dict | None = None,
                  lock_timeout: float = 30.0,
                  expect_parent=_EXPECT_ANY) -> int:
    """Commit a snapshot from PRE-WRITTEN shard manifest files (the
    distributed-commit path: executor tasks wrote one immutable
    ``_manifests/`` file per shard and the driver holds only the
    O(shards) summaries — per-chunk JSON never reaches the driver).

    Each ref: {shard, file (relative), n_chunks, n_rows, raw_bytes,
    enc_bytes}. The ref list must describe the FULL snapshot — append
    merges are prepared by the caller (``commit_in_tasks`` merges
    overlapping shards task-side) and validated here via
    ``expect_parent``: if the current snapshot is no longer the one the
    refs were prepared against, StaleParent is raised so the caller can
    re-merge and retry (optimistic concurrency)."""
    with _locked_parent(table_dir, lock_timeout, expect_parent) as prev:
        return _publish(table_dir, prev, shard_refs, schema_ddl, extra)


_REF_DDL = ("shard string, file string, n_chunks long, n_rows long, "
            "raw_bytes long, enc_bytes long")


def commit_in_tasks(entries_df, table_dir: str, schema_ddl: str,
                    extra: dict | None = None,
                    append: bool = False) -> tuple[int, list[dict]]:
    """Task-plane commit of an encode job's (chunk_id, entry_json) rows;
    returns (snapshot id, the batch's shard refs with totals and
    ``reused_chunks``). The driver handles only O(shards) refs.

    Rows are exchanged on their ``_shard_of`` key and each task writes
    whole shard files (``_merge_shard`` with no parent) before the lock
    is taken; expire_snapshots spares them via the GC floor (see
    ``_cleanup_manifest_files``). An append then merges every shard it
    shares with the parent inside tasks by the driver commit's rule
    (``_merge_shard``) and carries untouched parent refs forward. That
    parent is read outside the lock: on StaleParent from
    ``commit_shards(expect_parent=...)`` the merge re-runs."""
    spark = entries_df.sparkSession
    token = uuid.uuid4().hex[:12]

    def write(rows):
        by_shard = _group_by_shard(json.loads(r["entry_json"]) for r in rows)
        for shard, ents in by_shard.items():
            yield {**_merge_shard(table_dir, shard, None, ents,
                                  _shard_file(token, shard)),
                   "reused_chunks": sum(1 for e in ents if e.get("reused"))}

    keyed = _run_tasks(
        entries_df,
        lambda rows: ({**r, "shard": _shard_of(r["chunk_id"])} for r in rows),
        "chunk_id string, entry_json string, shard string")
    new_refs = [r.asDict() for r in _run_tasks(
        keyed.repartition("shard"), write,
        _REF_DDL + ", reused_chunks long").collect()]
    if not append:
        return commit_shards(table_dir, new_refs, schema_ddl,
                             extra=extra), new_refs
    new_by_shard = {r["shard"]: r for r in new_refs}
    for _attempt in range(10):
        prev = load_refs(table_dir)
        final = {r["shard"]: r
                 for r in (prev["manifest_shards"] if prev else [])}
        work = [{"shard": s, "parent_file": final[s]["file"],
                 "new_file": new_by_shard[s]["file"]}
                for s in sorted(set(final) & set(new_by_shard))]
        mtoken = uuid.uuid4().hex[:12]

        def merge(rows):
            for r in rows:
                yield _merge_shard(
                    table_dir, r["shard"], {"file": r["parent_file"]},
                    _read_shard(table_dir, {"file": r["new_file"]}),
                    _shard_file(mtoken, r["shard"], merged=True))

        if work:
            wdf = _rows_df(spark, work, "shard string, parent_file string, "
                                        "new_file string")
            final.update((r["shard"], r.asDict())
                         for r in _run_tasks(wdf, merge, _REF_DDL).collect())
        for s, r in new_by_shard.items():
            final.setdefault(s, r)
        try:
            return commit_shards(
                table_dir, list(final.values()), schema_ddl, extra=extra,
                expect_parent=prev["snapshot_id"] if prev else None,
            ), new_refs
        except StaleParent:
            continue  # another commit landed: re-merge against it
    raise CommitConflict("append commit lost the parent race 10 times")


def _snapshot_ids_on_disk(mdir: str) -> set[int]:
    """Every snapshot id with a snap-<n>.json listing in the manifest
    dir (shard files are manifest-<token>-<shard>.json)."""
    ids: set[int] = set()
    for fn in os.listdir(mdir):
        if fn.startswith("snap-") and fn.endswith(".json"):
            try:
                ids.add(int(fn[len("snap-"):-len(".json")]))
            except ValueError:
                pass
    return ids


# an encode job's in-flight marker protects its uncommitted chunk files
# from GC; markers whose mtime goes stale past the TTL are crashed jobs
# and stop protecting. LIVE jobs longer than the TTL keep protection by
# heartbeating the marker's mtime (table._inflight_guard does this every
# INFLIGHT_HEARTBEAT_S) — the GC floor itself comes from the immutable
# "start" stamp inside the marker JSON, so the heartbeat never raises
# the floor past chunks the job wrote earlier.
INFLIGHT_TTL_S = 3600.0
INFLIGHT_HEARTBEAT_S = INFLIGHT_TTL_S / 6.0


def begin_inflight(table_dir: str) -> str:
    """Create an in-flight marker BEFORE any chunk file of an encode
    job is written: expire_snapshots never deletes chunk/shard files
    newer than the oldest active marker's START stamp, so a
    long-running encode whose chunks land before another writer's later
    commit (or under clock skew) cannot have them GC'd mid-job — the
    explicit protocol the old 'newer than the last commit' mtime
    heuristic only approximated. Liveness is the marker's mtime: the
    holder heartbeats it (heartbeat_inflight / os.utime) so multi-hour
    backfills outlive INFLIGHT_TTL_S; markers whose mtime goes stale
    are crashed jobs and are swept by the next expire."""
    import time as _t
    import uuid

    d = os.path.join(table_dir, "_inflight")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"job-{uuid.uuid4().hex[:12]}.json")
    _atomic_write_json(path, {"pid": os.getpid(), "start": _t.time()})
    return path


def heartbeat_inflight(marker: str) -> None:
    """Refresh a marker's liveness (mtime) without moving its GC floor
    — the floor reads the JSON "start" stamp, not the mtime."""
    try:
        os.utime(marker)
    except OSError:
        pass


def end_inflight(marker: str) -> None:
    try:
        os.unlink(marker)
    except OSError:
        pass


def _inflight_floor(table_dir: str) -> float:
    """START stamp of the OLDEST live in-flight marker, or +inf if none
    — chunk/shard files at/after this instant belong to running encode
    jobs. Liveness = mtime within INFLIGHT_TTL_S (heartbeat-refreshed);
    pre-heartbeat markers without a "start" stamp fall back to mtime."""
    import time as _t

    d = os.path.join(table_dir, "_inflight")
    floor = float("inf")
    if not os.path.isdir(d):
        return floor
    now = _t.time()
    for fn in os.listdir(d):
        p = os.path.join(d, fn)
        try:
            m = os.path.getmtime(p)
        except OSError:
            continue
        if now - m > INFLIGHT_TTL_S:  # crashed job: sweep, don't protect
            try:
                os.unlink(p)
            except OSError:
                pass
            continue
        start = m
        try:
            with open(p) as fh:
                start = float(json.load(fh).get("start", m))
        except (OSError, ValueError, TypeError):
            pass
        floor = min(floor, start)
    return floor


def expire_snapshots(table_dir: str, keep: int = 2,
                     lock_timeout: float = 30.0, spark=None) -> dict:
    """Iceberg expire_snapshots parity: retain the latest ``keep``
    snapshots, delete older snapshot listings, manifest shards
    referenced only by them, and chunk files no retained snapshot
    references. Frees the space compaction/delete/upsert superseded
    while keeping recent time travel intact.

    Runs under the table's commit lock (a concurrent commit racing the
    unlink loop could otherwise reference freshly deleted files), and
    never deletes chunk files newer than the oldest active in-flight
    marker (see begin_inflight) or the current commit — those belong to
    an encode job that has not committed yet (resume checkpoint files).

    Pass ``spark`` to let tables of more than one manifest shard
    (≥ DISTRIBUTED_MANIFEST_MIN_CHUNKS chunks) build their keep-sets
    INSIDE Spark tasks (``scan_shards``) and list and unlink the chunks
    dir there too, so the driver handles only O(shards) refs — never the
    per-chunk entry JSON (GBs at the 10¹²-turn frame) or the unlink
    list. Expiry took 0.46 s on the driver vs 1.28 s on tasks at 10,000
    chunks, 2.59 vs 2.08 s at 65,536 (BENCH/BASELINE.md, Round 15)."""
    with _commit_lock(table_dir, lock_timeout):
        current = load_refs(table_dir)
        if current is None:
            return {"expired_snapshots": 0, "deleted_chunks": 0}
        mdir = os.path.join(table_dir, "_manifests")
        retained, expired = _retained_expired(
            table_dir, current["snapshot_id"], keep)
        shard_files = sorted({
            ref["file"] for s in retained
            for ref in load_refs(table_dir, snapshot_id=s)["manifest_shards"]
        })
        keep_shards = {os.path.basename(f) for f in shard_files}

        def referenced(entries):
            return [{"name": os.path.basename(e["file"])} for e in entries]

        # in-flight protection: chunk files written at/after the oldest
        # ACTIVE in-flight marker belong to a running encode job (see
        # begin_inflight); failing that, the last commit is the floor
        floor = _gc_floor(table_dir)
        cdir = os.path.join(table_dir, "chunks")
        unlink = functools.partial(_unlink_chunks, cdir)
        if _task_plane(spark, current["n_chunks"]):
            # list, anti-join and unlink inside tasks (object stores list
            # in parallel by prefix; the local-FS stand-in is one task):
            # a mass crash can leave O(millions) orphans, too many for a
            # driver-side list. Only the per-task counts come back; the
            # unlink runs in the listing's tasks, with no exchange.
            from pyspark.sql import functions as F

            doomed = (_run_tasks(_rows_df(spark, [{"d": cdir}], "d string"),
                                 _list_chunks, "name string, mtime double")
                      .filter(F.col("mtime") < F.lit(floor))
                      .join(scan_shards(spark, table_dir, shard_files,
                                        referenced, "name string"),
                            "name", "left_anti"))
            counts = _run_tasks(doomed, unlink, "n long").collect()
        else:
            keep_files = {r["name"] for f in shard_files
                          for r in referenced(_read_shard(table_dir,
                                                          {"file": f}))}
            counts = unlink(r for r in _list_chunks([{"d": cdir}])
                            if r["mtime"] < floor
                            and r["name"] not in keep_files)
        _cleanup_manifest_files(mdir, expired, keep_shards, floor)
        return {
            "expired_snapshots": len(expired),
            "retained_snapshots": retained,
            "deleted_chunks": sum(r["n"] for r in counts),
        }


def _retained_expired(table_dir: str, current_id: int,
                      keep: int) -> tuple[list[int], list[int]]:
    mdir = os.path.join(table_dir, "_manifests")
    snaps = sorted(_snapshot_ids_on_disk(mdir))
    retained = sorted(
        {s for s in snaps if s > current_id - keep} | {current_id}
    )
    return retained, [s for s in snaps if s not in retained]


def _gc_floor(table_dir: str) -> float:
    """Chunk files at/after this instant are never GC'd: the oldest
    active in-flight marker, or failing that the current commit."""
    try:
        floor = os.path.getmtime(
            os.path.join(table_dir, "_manifest_list.json"))
    except OSError:
        floor = float("inf")
    return min(floor, _inflight_floor(table_dir))


def _cleanup_manifest_files(mdir: str, expired: list[int],
                            keep_shards: set,
                            floor: float = float("inf")) -> None:
    """Delete expired snapshot listings and unreferenced shard files —
    EXCEPT shard files at/after ``floor`` (the GC floor): an encode
    job's ``commit_in_tasks`` write and merge tasks write manifest-*
    files BEFORE taking the commit lock, so a concurrent expire racing
    that window must spare them exactly like uncommitted chunk files. Crashed attempts' orphan shards lose
    protection when their in-flight marker passes INFLIGHT_TTL_S and
    are swept by the next expire."""
    expired_set = set(expired)
    for fn in os.listdir(mdir):
        if fn.startswith("snap-"):
            try:
                sid = int(fn[len("snap-"):-len(".json")])
            except ValueError:
                continue
            if sid in expired_set:
                os.unlink(os.path.join(mdir, fn))
        elif fn.startswith("manifest-") and fn not in keep_shards:
            fpath = os.path.join(mdir, fn)
            try:
                if os.path.getmtime(fpath) >= floor:
                    continue  # pending commit's shards, in-flight
                os.unlink(fpath)
            except OSError:
                pass


def _list_chunks(rows):
    """Chunk-dir listing job: ``{"d": chunks dir}`` rows → one
    ``{"name", "mtime"}`` row per chunk file present."""
    for r in rows:
        d = r["d"]
        for fn in (os.listdir(d) if os.path.isdir(d) else ()):
            if not fn.endswith(".parquet"):
                continue
            try:
                yield {"name": fn,
                       "mtime": os.path.getmtime(os.path.join(d, fn))}
            except OSError:
                pass


def _unlink_chunks(cdir: str, rows):
    """Chunk unlink job: unlink ``cdir/<name>`` for each ``{"name"}``
    row; yields one ``{"n": files unlinked}`` row."""
    n = 0
    for r in rows:
        try:
            os.unlink(os.path.join(cdir, r["name"]))
            n += 1
        except OSError:
            pass
    yield {"n": n}

