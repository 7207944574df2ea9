"""Table-level API: write_table / read_table / verify_roundtrip.

The user-facing equivalent of the reference's ``NewWriter``/``NewReader``
(⟨ref⟩ writer.go, reader.go), Iceberg-style: encoded chunk files + JSON
manifests with atomic snapshot commits, checkpoint resume, projection
pushdown and manifest-stats chunk skipping. Everything is DataFrame-in /
DataFrame-out; the only shuffle is the chunk-assignment repartition.
"""

from __future__ import annotations

import json
import math
import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DayTimeIntervalType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
    YearMonthIntervalType,
)

from . import manifest
from .decode import make_decode_fn, prune_entries
from .encode import (file_chunks, make_chunk_id, make_encode_fn,
                     partition_chunks)

__all__ = ["write_table", "write_table_direct", "read_table", "compact",
           "count_rows", "column_stats", "search_text", "delete_rows", "upsert_table",
           "verify_roundtrip", "validate_schema", "TRANSCRIPT_DDL"]

DEFAULT_ROWS_PER_CHUNK = 262_144
DEFAULT_SALT_BLOCK = 65_536

# upsert_table's contract is O(touched batch) on the driver; above this
# many touched chunks it is a de-facto full-table rewrite and the
# driver-side touched-set collect/decode bookkeeping stops being cheap.
UPSERT_MAX_TOUCHED_CHUNKS = 100_000

# conservative in-memory row width (transcript shape ~250 B/row) used to
# bound encode task sizes when Catalyst has no byte estimate
EST_ROW_BYTES = 256


TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")


def _inflight_guard(pos: int):
    """Bracket a chunk-writing op with an in-flight marker (see
    manifest.begin_inflight): expire_snapshots spares chunk/shard files
    newer than any live marker's start stamp, so a concurrent GC can
    never delete this job's uncommitted files. A daemon heartbeat
    thread refreshes the marker's liveness every INFLIGHT_HEARTBEAT_S
    so jobs longer than INFLIGHT_TTL_S — the design target is
    multi-hour 10¹²-row backfills — keep protection for their whole
    run. ``pos`` = positional index of table_dir.

    The table's listing is loaded first, so an incompatible (pre-0.2)
    table raises before any marker or chunk file is written."""
    import functools
    import threading

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            table_dir = kwargs.get("table_dir") or args[pos]
            manifest.load_refs(table_dir)
            marker = manifest.begin_inflight(table_dir)
            stop = threading.Event()

            def beat():
                while not stop.wait(manifest.INFLIGHT_HEARTBEAT_S):
                    manifest.heartbeat_inflight(marker)

            t = threading.Thread(target=beat, daemon=True,
                                 name="inflight-heartbeat")
            t.start()
            try:
                return fn(*args, **kwargs)
            finally:
                stop.set()
                manifest.end_inflight(marker)

        return wrapper

    return deco


def validate_schema(df: DataFrame, ddl: str = TRANSCRIPT_DDL) -> None:
    """Assert the DataFrame matches the declared contract (H1 parity:
    the reference validates schema trees before writing,
    ⟨ref⟩ schema/*.go). Raises ValueError listing every mismatch."""
    from pyspark.sql.types import _parse_datatype_string

    want = {f.name: f.dataType.simpleString()
            for f in _parse_datatype_string(ddl).fields}
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for name, t in want.items():
        if name not in have:
            problems.append(f"missing column {name!r} ({t})")
        elif have[name] != t:
            problems.append(f"column {name!r}: expected {t}, got {have[name]}")
    extra = set(have) - set(want)
    if extra:
        problems.append(f"unexpected columns: {sorted(extra)}")
    if problems:
        raise ValueError("schema contract violation: " + "; ".join(problems))


# ANSI interval support (parquet.thrift:165-177 INTERVAL converted
# type; Spark: DayTimeIntervalType / YearMonthIntervalType). Spark's
# Arrow UDF channel rejects interval types outright — at ANY nesting
# depth (PySparkNotImplementedError from every Arrow UDF) — so
# the engine lowers interval leaves to their internal integer form
# JVM-side before the encode UDF: day-time = int64 microseconds,
# year-month = int32 months, both exact by definition. Nested
# occurrences (struct fields, array elements, map values) are lowered
# in place by a recursive expression (named_struct/transform/
# transform_values with null guards), and read_table restores
# JVM-side after the decode UDF with the inverse expression under ONE
# outer CAST to the manifest's ORIGINAL DDL — which also restores
# exact interval field bounds (e.g. HOUR TO MINUTE) at every level.
# The lowered ints go through the normal integer codec paths
# (delta/PFOR; nested ones through the shredded/generic nested
# codecs), which is precisely what the Parquet INTERVAL encoding does
# with its months/days/millis triple. Interval MAP KEYS stay
# unsupported (loud ValueError — no sane ordering story).
_IV_TYPES = (DayTimeIntervalType, YearMonthIntervalType)


def _contains_iv(dt) -> bool:
    from pyspark.sql.types import ArrayType

    if isinstance(dt, _IV_TYPES):
        return True
    if isinstance(dt, StructType):
        return any(_contains_iv(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _contains_iv(dt.elementType)
    if isinstance(dt, MapType):
        if _contains_iv(dt.keyType):
            raise ValueError(
                "interval-typed map keys are not supported")
        return _contains_iv(dt.valueType)
    return False


def _all_nullable(dt):
    """``dt`` with nullability forced on at every level — the decode
    path is all-nullable (schema evolution null-fills), so neither the
    decoded schema nor the restore cast target may carry NOT NULL
    constraints from the writer's schema (Spark refuses nullable→non-null
    struct casts, and createDataFrame rebuilds nested columns as
    nullable)."""
    from pyspark.sql.types import ArrayType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _all_nullable(f.dataType), True,
                        f.metadata)
            for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _all_nullable(dt.valueType), True)
    return dt


def _lower_type(dt):
    """The Arrow-safe storage type for ``dt`` (interval leaves → ints)."""
    from pyspark.sql.types import ArrayType

    if isinstance(dt, DayTimeIntervalType):
        return LongType()
    if isinstance(dt, YearMonthIntervalType):
        return IntegerType()
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _lower_type(f.dataType), True, f.metadata)
            for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_lower_type(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _lower_type(dt.valueType), True)
    return dt


def _bt(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _iv_sql(ref: str, dt, lower: bool, depth: int = 0) -> str:
    """Recursive SQL rewriting interval leaves under ``ref``:
    ``lower=True`` → ints (write side), ``lower=False`` → intervals
    (read side; caller wraps in one CAST to the original DDL, which
    also restores exact field bounds everywhere)."""
    from pyspark.sql.types import ArrayType

    if isinstance(dt, DayTimeIntervalType):
        return (f"({ref} div INTERVAL '0.000001' SECOND)" if lower
                else f"({ref} * INTERVAL '0.000001' SECOND)")
    if isinstance(dt, YearMonthIntervalType):
        # div (not CAST AS INT): CAST uses the END-field unit, so an
        # INTERVAL YEAR column would store years while the restore
        # multiplies months — div by 1 month is bound-independent
        return (f"({ref} div INTERVAL '1' MONTH)" if lower
                else f"({ref} * INTERVAL '1' MONTH)")
    if isinstance(dt, StructType):
        if not _contains_iv(dt):
            return ref
        parts = ", ".join(
            "'" + f.name.replace("'", "''") + "', "
            + _iv_sql(f"{ref}.{_bt(f.name)}", f.dataType, lower, depth)
            for f in dt.fields)
        # named_struct of a NULL struct would fabricate a non-null row
        # of nulls — guard the null through explicitly
        return (f"(CASE WHEN {ref} IS NULL THEN NULL "
                f"ELSE named_struct({parts}) END)")
    if isinstance(dt, ArrayType):
        if not _contains_iv(dt.elementType):
            return ref
        v = f"_iv{depth}"
        inner = _iv_sql(v, dt.elementType, lower, depth + 1)
        return f"transform({ref}, {v} -> {inner})"
    if isinstance(dt, MapType):
        if not _contains_iv(dt.valueType):
            return ref
        k, v = f"_ivk{depth}", f"_ivv{depth}"
        inner = _iv_sql(v, dt.valueType, lower, depth + 1)
        return f"transform_values({ref}, ({k}, {v}) -> {inner})"
    return ref


def _lower_interval_df(df: DataFrame) -> tuple[DataFrame, str | None]:
    """Lower interval-bearing columns (top-level or nested) to ints;
    returns (df, original schema json to commit) — (df, None) when
    there is nothing to do."""
    if not any(_contains_iv(f.dataType) for f in df.schema.fields):
        return df, None
    orig = df.schema.json()
    exprs = []
    for f in df.schema.fields:
        if _contains_iv(f.dataType):
            low = _iv_sql(_bt(f.name), f.dataType, lower=True)
            # cast with the DataType OBJECT (not simpleString DDL):
            # field names with DDL-hostile characters stay intact
            exprs.append(
                F.expr(low).cast(_lower_type(f.dataType)).alias(f.name))
        else:
            exprs.append(F.col(f"`{f.name}`"))
    return df.select(exprs), orig


def _udf_safe_fields(
    fields: list[StructField],
) -> tuple[list[StructField], dict]:
    """Interval-bearing fields → (lowered fields for the decode UDF
    schema, restore Column by column name for the JVM-side select
    after). Lowered fields keep their metadata; restore re-attaches it."""
    out: list[StructField] = []
    restore: dict = {}
    for f in fields:
        dt = f.dataType
        if _contains_iv(dt):
            out.append(StructField(f.name, _lower_type(dt), True,
                                   f.metadata))
            up = F.expr(_iv_sql(_bt(f.name), dt, lower=False)).cast(
                _all_nullable(dt))
            restore[f.name] = (up.alias(f.name, metadata=f.metadata)
                               if f.metadata else up.alias(f.name))
        else:
            out.append(f)
    return out, restore


@_inflight_guard(1)
def write_table(
    df: DataFrame,
    table_dir: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    num_chunks: int | None = None,
    rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
    salt_block: int = DEFAULT_SALT_BLOCK,
    resume: bool = True,
    chunk_expr=None,
    chunk_prefix: str = "",
    append: bool = False,
    bloom_cols: tuple[str, ...] = (),
    token_bloom_cols: tuple[str, ...] = (),
) -> dict:
    """Encode ``df`` into an Iceberg-style encoded-chunk table.

    Default chunk assignment = pmod(xxhash64(key_cols[0],
    key_cols[1] // salt_block), num_chunks): deterministic across reruns
    (resume) and skew-bounded (long conversations split at turn-block
    boundaries). Pass ``chunk_expr`` (a Column producing an integer) for
    value-range chunking instead — range chunks give tight per-chunk
    min/max stats, which is what makes manifest chunk-skipping
    selective (Parquet row-group pruning parity).

    ``append=True`` merges this write's chunk entries into the current
    snapshot instead of replacing it (same-id entries override — writes
    are idempotent per chunk id, which with a ``chunk_prefix`` per
    micro-batch gives exactly-once streaming ingestion even when a
    batch is replayed).

    The manifest commit picks its plane from ``num_chunks`` (see
    ``_commit``). On the task plane shard files are written by a second
    Spark stage and the driver handles only O(shards) summaries. For
    input that is already conversation-grouped in parquet files,
    ``write_table_direct`` skips the exchange.

    A small driver-plane write (Catalyst estimate and chunk count, see
    ``manifest._driver_encode``) encodes in this process after one job
    with no exchange, any other in Spark tasks (``_encode``); both
    sites write the same bytes.
    """
    df, orig_schema_json = _lower_interval_df(df)
    schema_json = orig_schema_json or df.schema.json()
    entries, extra = _stage_encode(
        df, table_dir, key_cols, num_chunks, rows_per_chunk, salt_block,
        resume, chunk_expr, chunk_prefix, bloom_cols, token_bloom_cols,
    )
    return _commit(entries, table_dir, schema_json, extra, append,
                   extra["num_chunks"])


def _encode(spark, fn, size: int | None, n_chunks: int, local, staged):
    """The encode site of both writers: ``fn`` over the Arrow batches of
    ``local()`` here, giving the entry list, when the write passes
    ``manifest._driver_encode``; else the lazy (chunk_id, entry_json)
    DataFrame of ``fn`` over ``staged()``. Both sites run the same
    reuse groups in the same chunk order, hence the same bytes."""
    if (not manifest._task_plane(spark, n_chunks)
            and manifest._driver_encode(size, n_chunks)):
        return [json.loads(b.column("entry_json")[0].as_py())
                for b in fn(local())]
    return staged().mapInArrow(fn, "chunk_id string, entry_json string")


def _entry_list(entries) -> list[dict]:
    """An ``_encode`` result as its entry list (collects a DataFrame)."""
    if isinstance(entries, DataFrame):
        return [json.loads(r.entry_json) for r in entries.collect()]
    return entries


def _commit(entries, table_dir: str, schema_ddl: str,
            extra: dict, append: bool, n_chunks: int) -> dict:
    """Commit an ``_encode`` result — the one commit path of both
    writers. It only picks the manifest plane (manifest._task_plane) and
    sums the refs the commit returns: the task plane hands the job's
    DataFrame to ``manifest.commit_in_tasks``, the driver plane commits
    the entry list with ``manifest.commit``."""
    if (isinstance(entries, DataFrame)
            and manifest._task_plane(entries.sparkSession, n_chunks)):
        snapshot, refs = manifest.commit_in_tasks(
            entries, table_dir, schema_ddl, extra=extra, append=append,
        )
    else:
        entries = _entry_list(entries)
        snapshot = manifest.commit(
            table_dir, entries, schema_ddl=schema_ddl, extra=extra,
            append=append,
        )
        refs = [{**manifest._shard_totals(entries),
                 "reused_chunks": sum(1 for e in entries if e.get("reused"))}]
    return {"snapshot_id": snapshot,
            **{k: sum(r[k] for r in refs) for k in manifest._TOTALS},
            "reused_chunks": sum(r["reused_chunks"] for r in refs)}


def _hash_chunk(key_cols: tuple[str, ...], salt_block: int,
                num_chunks: int):
    """The hash chunk rule, as a Column: pmod(xxhash64(key_cols[0],
    floor(key_cols[1] / salt_block)), num_chunks). Writes assign rows
    to chunks by it and upsert finds a key's chunk by it, so both must
    read it from here."""
    salt = (F.floor(F.col(key_cols[1]) / F.lit(salt_block))
            if len(key_cols) > 1 else F.lit(0))
    return F.pmod(F.xxhash64(F.col(key_cols[0]), salt), F.lit(num_chunks))


_PYTHON_MAPS = frozenset({
    "MapInArrow", "MapInPandas", "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInArrow",
    "FlatMapCoGroupsInPandas"})


def _python_mapped(plan) -> bool:
    """Whether a logical plan (py4j) runs a Python map (mapInArrow,
    applyInPandas, ...). Catalyst sizes a map's output from its input,
    so a job-site decode (``_decode_df``) over a few-KB list of chunk
    files reads as a few KB however many rows it yields; write
    staging treats such a plan as one of unknown size."""
    if plan.nodeName() in _PYTHON_MAPS:
        return True
    kids = plan.children()
    return any(_python_mapped(kids.apply(i)) for i in range(kids.size()))


def _reuse_group(n_groups: int):
    """The FSST reuse group of a staged row, as a Column:
    pmod(hash(_ck), n_groups), the Murmur3 partition id that
    repartition(n_groups, "_ck") assigns. Staging with one group per
    task gives the same groups, hence the same bytes."""
    return F.pmod(F.hash(F.col("_ck")), F.lit(n_groups))


def _encode_tasks(n_groups: int, par: int, by_size: int) -> int:
    """The encode task count for ``n_groups`` reuse groups on ``par``
    cores, for an input of about ``by_size`` × 128 MB.

    Each PySpark task pays a fixed ~0.27 s (4-vCPU host, CPython 3.11,
    PySpark 4.1: the worker re-reads the central directory of every
    zip on its sys.path at task start), so an input smaller than one
    128 MB task per core runs one wave: the fewest tasks, at least
    ``par``, that divide ``n_groups``. Hashing _ck into a divisor of
    n_groups puts each whole group in task ``_g % n_tasks``, so no
    group straddles two tasks. Larger inputs keep one task per group:
    there tasks are long, the fixed cost is noise, and several waves
    per core absorb stragglers (two waves lost 1→4-core efficiency;
    BENCH/BASELINE.md, Round 3)."""
    if by_size >= par:
        return n_groups
    return next(d for d in range(min(par, n_groups), n_groups + 1)
                if n_groups % d == 0)


def _stage_encode(
    df: DataFrame,
    table_dir: str,
    key_cols: tuple[str, ...],
    num_chunks: int | None,
    rows_per_chunk: int,
    salt_block: int,
    resume: bool,
    chunk_expr,
    chunk_prefix: str,
    bloom_cols: tuple[str, ...],
    token_bloom_cols: tuple[str, ...] = (),
    file_token: str = "",
    n_rows: int | None = None,
) -> tuple[DataFrame | list[dict], dict]:
    """Tag ``df``'s rows with chunk ``_ck`` and reuse group ``_g`` in
    the JVM and encode them through ``_encode``: in tasks behind an
    exchange on ``_ck``, or here. ``n_rows`` (a rewrite's manifest row
    count) sizes the staging when Catalyst has no estimate."""
    # NOTE: no JVM sortWithinPartitions — the encode kernel sorts each
    # partition with pyarrow (same total order on the unique keys, so
    # chunk bytes and data_crc are identical), which is ~20x cheaper
    # than Spark's row sorter on these payloads
    size = None
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        est = plan.stats().sizeInBytes()
        # py4j returns java.math.BigInteger for huge "unknown"
        # estimates but a plain int for normal ones — handle both
        est = int(est.toString()) if hasattr(est, "toString") else int(est)
        # Catalyst "unknown" is huge; a Python map's estimate is not a
        # size either (see _python_mapped)
        if 0 < est < (1 << 50) and not _python_mapped(plan):
            size = est
    except Exception:
        pass
    site_size = size  # the estimate alone, never the count fallback
    if num_chunks is None:
        # prefer Catalyst's size estimate (no extra job); fall back
        # to an exact count. Both are deterministic for the same
        # input, which resume's chunk-id stability requires.
        if size is not None:
            # rows_per_chunk ≈ 64 MB of in-memory rows at the
            # transcript shape (~250 B/row)
            num_chunks = max(1, math.ceil(size / (64 << 20)))
        else:
            n_rows = df.count()
            num_chunks = max(1, math.ceil(n_rows / rows_per_chunk))
    if chunk_expr is not None:
        ck = F.pmod(chunk_expr.cast("long"), F.lit(num_chunks))
    else:
        ck = _hash_chunk(key_cols, salt_block, num_chunks)
    # Two counts, neither of them the CHUNK count (chunk identity is
    # the _ck value, so resume and manifests depend on neither):
    # - n_groups FSST reuse groups = min(num_chunks, max(4*cores,
    #   input/128 MB)). A group shares one symbol-table cache, so the
    #   groups decide the bytes (``_reuse_group``).
    # - n_tasks encode tasks (``_encode_tasks``): one wave for a small
    #   input, one task per group from one 128 MB task per core up, so
    #   no task takes more than ~128 MB of input (python-worker
    #   working set). Unknown size counts as one 128 MB task per chunk.
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if size is None and n_rows is not None:
        # no Catalyst estimate (post-shuffle/UDF sources): bound the
        # per-task working set from the row count
        size = n_rows * EST_ROW_BYTES
    by_size = num_chunks if size is None else math.ceil(size / (128 << 20))
    n_groups = max(1, min(num_chunks, max(4 * par, by_size)))
    n_tasks = _encode_tasks(n_groups, par, by_size)
    staged = df.withColumn("_ck", ck).withColumn("_g",
                                                 _reuse_group(n_groups))
    extra = {"num_chunks": num_chunks, "salt_block": salt_block,
             "key_cols": list(key_cols)}
    encode_fn = make_encode_fn(partition_chunks(key_cols, chunk_prefix),
                               table_dir, key_cols, resume, bloom_cols,
                               token_bloom_cols, file_token)
    # the driver site reads the JVM's own Arrow batches: toArrow()
    # re-casts timestamps to UTC, while encode tasks see the session
    # zone, and a nested type's zone reaches the bytes
    entries = _encode(df.sparkSession, encode_fn, site_size, num_chunks,
                      staged._collect_as_arrow,
                      lambda: staged.repartition(n_tasks, "_ck"))
    return entries, extra


def _rewrite(spark, table_dir: str, plan, tag: str):
    """The one rewrite of compact, delete_rows and upsert_table: load
    the listing, gate every entry's layout, and ask ``plan(listing)``
    for the op's part, ``(affected entries, fn, num_chunks,
    chunk_prefix, n_rows ≥ fn's rows)`` or None for a no-op that
    commits nothing. Re-encode (``_encode_entries``) into
    ``chunk-<id>-<token>.parquet`` files, one token per op, that no
    snapshot references; commit keep + new against the listing
    (CommitConflict if a commit landed since: nothing dropped, no
    referenced file touched, a retry is safe), recording the replaced
    ids under ``tag``; then unlink the replaced files. Returns
    ``(snapshot id, affected, keep, new entries)``."""
    listing = manifest.load(table_dir)
    if listing is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    # gate before planning: pre-0.2 blooms use another hash scheme
    manifest.check_chunk_layout(listing["entries"])
    op = plan(listing)
    if op is None:
        return listing["snapshot_id"], [], listing["entries"], []
    affected, fn, num_chunks, chunk_prefix, n_rows = op
    new = _encode_entries(spark, table_dir, listing, affected, fn,
                          num_chunks, n_rows, chunk_prefix,
                          uuid.uuid4().hex[:12])
    replaced = {e["chunk_id"] for e in affected}
    keep = [e for e in listing["entries"] if e["chunk_id"] not in replaced]
    snap = manifest.commit(
        table_dir, keep + new, schema_ddl=listing["schema_ddl"],
        extra={**listing["extra"], tag: sorted(replaced)},
        expect_parent=listing["snapshot_id"],
    )
    for e in affected:
        try:
            os.unlink(os.path.join(table_dir, e["file"]))
        except OSError:
            pass
    return snap, affected, keep, new


def _encode_entries(spark, table_dir: str, listing: dict,
                    affected: list[dict], fn, num_chunks: int, n_rows: int,
                    chunk_prefix: str, file_token: str) -> list[dict]:
    """The re-encode step of ``_rewrite``: decode the ``affected``
    entries on read_table's site (nullable at every level; intervals in the
    lowered int form chunk bytes store), apply ``fn`` (DataFrame →
    DataFrame), and encode the result as write_table does, sized by
    ``n_rows`` if unsized, into ``num_chunks`` hash chunks whose files carry
    ``file_token``; returns the new entries. Key columns and salt block
    come from the listing; a column keeps its bloom or token bloom when
    an affected entry (any entry, when none is affected) has one."""
    extra = listing["extra"]
    schema = StructType(_udf_safe_fields(_all_nullable(StructType.fromJson(
        json.loads(listing["schema_ddl"]))).fields)[0])
    old = _decode_rows(spark, _chunk_rows(table_dir, affected,
                                          schema.fieldNames()), schema)
    metas = [m for e in (affected or listing["entries"])
             for m in e["columns"].items()]

    def carried(kind):
        return tuple(sorted({c for c, m in metas if kind in m}))

    entries, _ = _stage_encode(
        fn(old), table_dir,
        key_cols=tuple(extra.get("key_cols") or ["conv_id", "turn_idx"]),
        num_chunks=num_chunks, rows_per_chunk=DEFAULT_ROWS_PER_CHUNK,
        salt_block=extra.get("salt_block", DEFAULT_SALT_BLOCK),
        resume=False, chunk_expr=None, n_rows=n_rows,
        chunk_prefix=chunk_prefix, bloom_cols=carried("bloom"),
        token_bloom_cols=carried("token_bloom"), file_token=file_token,
    )
    return _entry_list(entries)


def read_table(
    spark: SparkSession,
    table_dir: str,
    columns: list[str] | None = None,
    predicates: dict | None = None,
    push_row_filter: bool = False,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Decode an encoded table back to a DataFrame.
    ``snapshot_id`` → time travel to a historical snapshot.

    ``columns`` → projection pushdown (only those blobs are decoded);
    ``predicates`` {col: (lo, hi)} → manifest-stats chunk skipping, and
    with ``push_row_filter=True`` also blob-level late materialization:
    predicate columns decode first, non-matching rows are dropped
    before the other blobs are touched, so the returned DataFrame
    contains exactly the matching rows (no residual filter needed).

    The decoder runs on one of two sites. When the surviving chunks'
    raw bytes in the decoded columns are at most
    ``manifest.DRIVER_DECODE_MAX_RAW_BYTES`` (driver-plane tables only),
    it runs in this process before read_table returns, so a point
    lookup launches no decode job, and a chunk that fails its checks
    raises here, before any action. The result keeps the decoded Arrow
    table: its ``toArrow()`` runs no Spark job and builds no JVM
    relation (unless interval columns need their Spark cast back). It
    is a local relation built on its first other Spark action or
    transform, which then runs through Spark. Larger reads, and
    every read of a task-plane table, return a lazy DataFrame whose
    Spark job decodes; errors then raise when it runs. Both sites give
    the same rows and schema.
    """
    if push_row_filter and predicates:
        from .decode import normalize_predicate

        row_filter = {
            c: normalize_predicate(p)[:2] for c, p in predicates.items()
        }
    else:
        row_filter = None
    return _read(spark, table_dir, columns,
                 lambda entries: prune_entries(entries, predicates),
                 row_filter, snapshot_id)


def _read(spark: SparkSession, table_dir: str, columns: list[str] | None,
          keep, row_filter: dict | None,
          snapshot_id: int | None) -> DataFrame:
    """The reader core of read_table and search_text: decode ``columns``
    (every column if None; "base.child" projects one child) of the
    chunks ``keep(entries)`` picks from a snapshot, with the
    ``row_filter`` ranges applied inside the decoder, on the site
    ``_decode_snapshot`` picks. Raises KeyError for a column the
    snapshot's schema lacks."""
    refs = manifest.load_refs(table_dir, snapshot_id=snapshot_id)
    if refs is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    schema = StructType.fromJson(json.loads(refs["schema_ddl"]))
    by_name = {f.name: f for f in schema.fields}
    all_cols = list(by_name)
    columns = columns or all_cols
    # all fields nullable, at every level: schema evolution null-fills
    # columns that predate a chunk, regardless of the writer-side
    # nullability, and createDataFrame rebuilds a driver-site result's
    # nested columns as nullable ones (_all_nullable below).
    # "base.child" projects ONE struct child as a flat column (shredded
    # structs then read only that child's bytes from storage).
    fields = []
    for c in columns:
        base, _, sub = c.partition(".")
        if base not in by_name:
            raise KeyError(
                f"column {c!r} not in table schema (have {all_cols})"
            )
        f = by_name[base]
        if sub:
            from pyspark.sql.types import ArrayType

            dt = f.dataType
            if (isinstance(dt, ArrayType)
                    and isinstance(dt.elementType, StructType)):
                # list<struct> child projection: one array<childT> per
                # row (the shredded layout reads only that child's
                # bytes — Dremel-style nested projection through the
                # list wrapper)
                child = {cf.name: cf
                         for cf in dt.elementType.fields}.get(sub)
                if child is None:
                    raise KeyError(
                        f"struct {base!r} elements have no field {sub!r}"
                    )
                fields.append(StructField(
                    c, ArrayType(child.dataType, True), nullable=True
                ))
            elif isinstance(dt, StructType):
                child = {cf.name: cf for cf in dt.fields}.get(sub)
                if child is None:
                    raise KeyError(f"struct {base!r} has no field {sub!r}")
                fields.append(StructField(c, child.dataType, nullable=True))
            elif isinstance(dt, MapType):
                # map-key projection: "attrs.k" → the value under key
                # "k" per row (null where absent). Shredded map chunks
                # read only the shell + that key's value blob.
                fields.append(StructField(c, dt.valueType, nullable=True))
            else:
                raise KeyError(f"{base!r} is not a struct, array<struct> "
                               f"or map; cannot project {c!r}")
        else:
            fields.append(
                StructField(f.name, f.dataType, nullable=True,
                            metadata=f.metadata)
            )
    # interval columns: decode as their lowered int form, cast back
    # JVM-side after the UDF
    udf_fields, iv_restore = _udf_safe_fields(
        _all_nullable(StructType(fields)).fields)
    udf_schema = StructType(udf_fields)

    def surviving(entries):
        # the layout gate comes first: pre-0.2 blooms use another hash
        # scheme, so pruning on them could skip live chunks
        manifest.check_chunk_layout(entries)
        return _chunk_rows(table_dir, keep(entries),
                           [*columns, *(row_filter or ())])

    out = _decode_snapshot(spark, table_dir, refs, surviving, udf_schema,
                           row_filter, snapshot_id)
    if iv_restore:
        out = out.select([
            iv_restore[f.name] if f.name in iv_restore
            else F.col(f"`{f.name}`")
            for f in udf_fields
        ])
    return out


@_inflight_guard(1)
def compact(
    spark: SparkSession,
    table_dir: str,
    min_rows: int = 32_768,
    rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
) -> dict:
    """Merge small chunks into full-size ones (Iceberg
    rewrite-data-files parity). Streaming ingestion leaves one chunk
    set per micro-batch; compaction decodes the small ones, re-encodes
    them under a fresh chunk namespace, and commits keep + new minus
    superseded in ONE snapshot through ``_rewrite``: a crash before the
    commit leaves the table exactly as it was, and a concurrent commit
    makes it raise CommitConflict before any chunk is unlinked.

    At scale this is a normal Spark job over only the small chunks —
    the large ones are untouched (no read amplification)."""

    def plan(listing):
        small = [e for e in listing["entries"] if e["n_rows"] < min_rows]
        if len(small) < 2:
            return None
        n_rows = sum(e["n_rows"] for e in small)
        return (small, lambda d: d,
                max(1, math.ceil(n_rows / rows_per_chunk)),
                f"c{listing['snapshot_id'] + 1:04d}-", n_rows)

    snap, small, keep, new = _rewrite(spark, table_dir, plan,
                                      "compacted_from")
    return {
        "snapshot_id": snap,
        "compacted_chunks": len(small),
        "new_chunks": len(new),
        "n_chunks": len(keep) + len(new),
        "n_rows": sum(e["n_rows"] for e in keep + new),
    }


@_inflight_guard(2)
def write_table_direct(
    spark: SparkSession,
    input_files: list[str],
    table_dir: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    files_per_chunk: int = 1,
    resume: bool = True,
    chunk_prefix: str = "",
    append: bool = False,
    bloom_cols: tuple[str, ...] = (),
) -> dict:
    """Direct-path encode for pre-grouped input: each chunk = one group
    of input parquet files, read INSIDE the task with pyarrow (no JVM
    scan, no shuffle, no Arrow JVM→Python transfer — only file paths
    cross the boundary). Chunk ids follow the sorted input listing, so
    resume requires a stable listing.

    Encodes on write_table's two sites (``_encode``), sized by the
    summed input-file bytes and the chunk count: a small write runs no
    Spark job but the schema read. Commits through the same ``_commit``
    as write_table, which picks the manifest plane from the chunk
    count."""
    files = sorted(input_files)
    if not files:
        raise ValueError("write_table_direct: input_files is empty; "
                         "there is nothing to encode")
    groups = [files[i : i + files_per_chunk]
              for i in range(0, len(files), files_per_chunk)]
    n = len(groups)
    par = min(n, spark.sparkContext.defaultParallelism)
    # explicit chunk->group assignment: contiguous blocks, chunk i goes
    # to reuse group i*par//n, in order of i inside the group. The
    # grouping decides the FSST symbol-table reuse, hence the encoded
    # bytes, so it is a pure function of the input listing and
    # parallelism — no random round-robin start, no sampled range
    # bounds. Contiguous blocks keep neighboring chunks (shared
    # vocabulary) in one group, which is what the reuse ratio-guard
    # wants. One row per group: ``_rows_df`` stages ``par`` rows as
    # ``par`` one-row partitions, so each task runs one group in one
    # Python session, with no shuffle; the driver site runs the same
    # rows in order.
    rows = [{"group": k, "chunk_id": [], "files": []} for k in range(par)]
    for i, g in enumerate(groups):
        rows[i * par // n]["chunk_id"].append(make_chunk_id(chunk_prefix, i))
        rows[i * par // n]["files"].append(g)
    ddl = "group long, chunk_id array<string>, files array<array<string>>"
    try:
        size = sum(os.path.getsize(f) for f in files)
    except OSError:
        size = None  # not a local path: unknown size, task site
    fn = make_encode_fn(file_chunks(key_cols), table_dir, key_cols,
                        resume, bloom_cols)
    entries = _encode(spark, fn, size, n,
                      lambda: manifest._arrow_rows(rows, ddl).to_batches(),
                      lambda: manifest._rows_df(spark, rows, ddl))
    schema_ddl = spark.read.parquet(files[0]).schema.json()
    extra = {"mode": "direct", "key_cols": list(key_cols)}
    return _commit(entries, table_dir, schema_ddl, extra, append, n)


_CHUNK_FILES_DDL = ("file string, chunk_id string, data_crc long, "
                    "enc_bytes long")


def _chunk_rows(table_dir: str, entries, columns) -> list[dict]:
    """One decode row per entry: the chunk file's path with the
    snapshot's expectations for it, and the raw bytes of the chunk's
    ``columns`` that the decode-site rule sums (a "base.child" column
    counts its base column; a column without its own raw_bytes counts
    the whole entry's). The decoder checks the file's embedded entry
    against the expectations, so a chunk file replaced after the
    snapshot (same id, other bytes) fails loudly instead of decoding
    the wrong data."""
    bases = {c.partition(".")[0] for c in columns}
    return [{"file": os.path.join(table_dir, e["file"]),
             "chunk_id": e["chunk_id"], "data_crc": e.get("data_crc"),
             "enc_bytes": e.get("enc_bytes"),
             "raw_bytes": sum(e["columns"].get(b, {}).get(
                 "raw_bytes", e["raw_bytes"]) for b in bases)}
            for e in entries]


def _decode_snapshot(spark, table_dir: str, refs: dict, fn,
                     schema: StructType, row_filter: dict | None = None,
                     snapshot_id: int | None = None) -> DataFrame:
    """Decode the chunks ``fn(entries)`` picks from a snapshot into the
    columns of ``schema``, choosing where the decoder runs. On the task
    plane ``manifest.scan_shards`` runs ``fn`` per shard file and a
    Spark job decodes its rows; the driver never sees an entry. On the
    driver plane ``fn`` runs over the loaded entry list and
    ``_decode_rows`` picks the site of its rows. Every site runs the
    same decoder over the same decode rows."""
    if manifest._task_plane(spark, refs["n_chunks"]):
        files_df = manifest.scan_shards(
            spark, table_dir, [r["file"] for r in refs["manifest_shards"]],
            fn, _CHUNK_FILES_DDL)
        return _decode_df(
            files_df.repartition(spark.sparkContext.defaultParallelism),
            schema, row_filter)
    return _decode_rows(spark, fn(manifest.load(
        table_dir, snapshot_id=snapshot_id)["entries"]), schema, row_filter)


def _decode_rows(spark, rows: list[dict], schema: StructType,
                 row_filter: dict | None = None) -> DataFrame:
    """The decode site of driver-held decode ``rows`` (``_chunk_rows``),
    for reads and rewrites alike: none → an empty ``_local_result``; raw
    bytes that pass ``manifest._driver_decode`` → ``_decode_local``,
    here and eagerly; otherwise a Spark job (``_decode_df``)."""
    if not rows:
        return _local_result(spark, to_arrow_schema(schema).empty_table(),
                             schema)
    if manifest._driver_decode(sum(r["raw_bytes"] for r in rows)):
        return _decode_local(spark, rows, schema, row_filter)
    return _decode_df(manifest._rows_df(spark, rows, _CHUNK_FILES_DDL),
                      schema, row_filter)


def _decode_fn(schema: StructType, row_filter: dict | None):
    """The decoder both sites run, for the columns of ``schema``; the
    column types fill columns missing from older chunks with nulls
    (schema evolution)."""
    return make_decode_fn([f.name for f in schema.fields],
                          row_filter=row_filter,
                          column_types={f.name: f.type
                                        for f in to_arrow_schema(schema)})


def _decode_df(files_df: DataFrame, schema: StructType,
               row_filter: dict | None = None) -> DataFrame:
    """Decode the chunks named by ``files_df``'s decode rows into the
    columns of ``schema`` in a Spark job."""
    return files_df.mapInArrow(_decode_fn(schema, row_filter), schema)


def _decode_local(spark, rows: list[dict], schema: StructType,
                  row_filter: dict | None) -> DataFrame:
    """Decode the chunks named by the decode ``rows`` into the columns
    of ``schema`` in this process, before the caller returns, so a chunk
    that fails its checks raises here. Each batch is cast to the
    schema's Arrow form, which is what the JVM reads from the Spark
    job's output. The result keeps the decoded table
    (``_LocalResult``), so its ``toArrow()`` runs no Spark job and
    builds no JVM relation (BENCH/BASELINE.md, "Round 12: driver-site
    collect" and "Round 16: lazy local relation")."""
    target = to_arrow_schema(schema)
    batches = [b.cast(target) for b in _decode_fn(schema, row_filter)(
        iter(manifest._arrow_rows(rows, _CHUNK_FILES_DDL).to_batches()))]
    return _local_result(spark, pa.Table.from_batches(batches, schema=target),
                         schema)


class _LocalResult(ClassicDataFrame):
    """A driver-site read's result: ``_table``, the decoded Arrow table
    of the StructType ``_struct``. ``toArrow()`` hands the table back
    with no Spark job and no JVM relation, cast as PySpark's own
    ``toArrow`` casts the JVM's batches. The local relation that every
    other action and every transform runs through is built from the
    table on the first access to ``_jdf``, once; every transform
    returns a plain DataFrame."""

    _table: pa.Table
    _struct: StructType

    @property
    def _jdf(self):
        if self._built is None:
            # createDataFrame rejects an Arrow table whose nested columns
            # have no chunks at all, which is what an empty decode gives
            self._built = self.sparkSession.createDataFrame(
                self._table if self._table.num_rows else [],
                self._struct)._jdf
        return self._built

    @_jdf.setter
    def _jdf(self, jdf):
        # ClassicDataFrame.__init__ assigns it (None: not built yet)
        self._built = jdf

    def toArrow(self) -> pa.Table:
        return self._table.cast(to_arrow_schema(
            self._struct, error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=self.sparkSession._jconf
            .arrowUseLargeVarTypes()))


def _local_result(spark, table: pa.Table, schema: StructType) -> DataFrame:
    """``table`` (``schema``'s Arrow form) as a ``_LocalResult``, whose
    JVM relation is not built until a Spark action or transform needs
    it. ``DataFrame.__new__`` takes ``(jdf, session)``."""
    df = _LocalResult(None, spark)
    df._table, df._struct = table, schema
    return df


def _predicate_cond(predicates: dict):
    """{col: (lo, hi) | point} → Spark boolean Column (AND of ranges)."""
    from .decode import normalize_predicate

    cond = None
    for col, p in predicates.items():
        lo, hi, point = normalize_predicate(p)
        c = None
        if point is not None:
            c = F.col(col) == F.lit(point)
        else:
            if lo is not None:
                c = F.col(col) >= F.lit(lo)
            if hi is not None:
                ch = F.col(col) <= F.lit(hi)
                c = ch if c is None else c & ch
        if c is not None:
            cond = c if cond is None else cond & c
    return cond if cond is not None else F.lit(True)


@_inflight_guard(1)
def delete_rows(spark: SparkSession, table_dir: str,
                predicates: dict) -> dict:
    """Row-level delete (Iceberg delete-with-rewrite parity): chunks
    whose stats overlap the predicate are decoded, surviving rows
    re-encoded under a fresh namespace, and ONE snapshot commits
    keep + rewritten through ``_rewrite`` — untouched chunks (the
    overwhelming majority at scale, thanks to manifest pruning) are not
    read at all. Raises CommitConflict, as compact does, if another
    commit lands first."""
    # NULL predicate values are "unknown" → NOT deleted (keep the row)
    dropped = F.coalesce(_predicate_cond(predicates), F.lit(False))

    def plan(listing):
        affected = prune_entries(listing["entries"], predicates)
        if not affected:
            return None
        n_rows = sum(e["n_rows"] for e in affected)
        return (affected, lambda d: d.filter(~dropped),
                max(1, math.ceil(n_rows / DEFAULT_ROWS_PER_CHUNK)),
                f"d{listing['snapshot_id'] + 1:04d}-", n_rows)

    snap, affected, keep, new = _rewrite(spark, table_dir, plan,
                                         "deleted_from")
    return {
        "snapshot_id": snap,
        "rewritten_chunks": len(affected),
        "untouched_chunks": len(keep),
        "n_chunks": len(keep) + len(new),
    }


@_inflight_guard(1)
def upsert_table(spark: SparkSession, table_dir: str,
                 df: DataFrame) -> dict:
    """Key-based upsert (the corrected-transcript case): rows in ``df``
    replace same-key rows; new keys append. Hash chunking is
    deterministic, so each upserted key maps to exactly one chunk id —
    only those chunks are decoded (on read_table's site), merged
    (anti-join on the key) and re-encoded (staged as write_table
    stages) under their SAME ids into new files (``_rewrite``; live
    files are never overwritten). Untouched chunks: zero I/O. Requires
    a hash-chunked table (default write mode). An empty batch commits
    nothing. A commit landing between the listing read and this op's
    commit makes it raise CommitConflict, with nothing dropped or
    touched: a retry is safe."""
    # interval columns merge in their lowered int form (both the stored
    # chunks and the incoming batch), original DDL stays in the commit
    df, _ = _lower_interval_df(df)
    counts = []

    def plan(listing):
        extra = listing["extra"]
        if "num_chunks" not in extra:
            raise ValueError("upsert requires a hash-chunked table")
        # prefixed chunk ids (streaming appends, compaction namespaces)
        # may hold the same keys outside the hash mapping, and an upsert
        # would then leave duplicates: compact to one namespace first
        prefixed = [e["chunk_id"] for e in listing["entries"]
                    if not e["chunk_id"].isdigit()]
        if prefixed:
            raise ValueError(
                "upsert requires a uniformly hash-chunked table; found "
                f"prefixed chunks (e.g. {prefixed[0]!r}) — run compact() "
                "or rewrite first"
            )
        num_chunks = extra["num_chunks"]
        key_cols = tuple(extra.get("key_cols") or ["conv_id", "turn_idx"])
        ck = _hash_chunk(key_cols, extra.get("salt_block", DEFAULT_SALT_BLOCK),
                         num_chunks)
        # one collect gives the touched set, the guard and the row count
        counts.extend(df.groupBy(ck.alias("_ck")).count()
                      .limit(UPSERT_MAX_TOUCHED_CHUNKS + 1).collect())
        if len(counts) > UPSERT_MAX_TOUCHED_CHUNKS:
            raise ValueError(
                f"upsert touches more than {UPSERT_MAX_TOUCHED_CHUNKS} "
                f"chunks (UPSERT_MAX_TOUCHED_CHUNKS="
                f"{UPSERT_MAX_TOUCHED_CHUNKS}): that is effectively a "
                "full-table rewrite whose touched-chunk set no longer fits "
                "the O(batch) driver contract — re-encode with "
                "write_table() (distributed commit) or compact() instead, "
                "or raise UPSERT_MAX_TOUCHED_CHUNKS explicitly"
            )
        if not counts:
            return None
        touched = {make_chunk_id("", r["_ck"]) for r in counts}

        def merge(old):
            new = df.select(*old.columns)
            return old.join(new, on=list(key_cols), how="left_anti") \
                .unionByName(new)

        affected = [e for e in listing["entries"] if e["chunk_id"] in touched]
        return (affected, merge, num_chunks, "", sum(
            e["n_rows"] for e in affected) + sum(r["count"] for r in counts))

    snap, affected, _, new = _rewrite(spark, table_dir, plan,
                                      "upserted_from")
    return {
        "snapshot_id": snap,
        "rewritten_chunks": len(affected),
        "new_chunks": len(new) - len(affected),
        "upserted_rows": sum(r["count"] for r in counts),
    }


def search_text(
    spark: SparkSession,
    table_dir: str,
    column: str,
    token: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Full-text point lookup: chunks whose token bloom cannot contain
    ``token`` are skipped (per-chunk inverted-index sketch, built with
    ``write_table(token_bloom_cols=(column,))``); survivors decode and
    the exact whitespace-token match filters residually. At the
    10^12-turn frame this turns "find conversations mentioning X" into
    a handful of chunk decodes instead of a corpus scan.

    Reads through read_table's core, so it takes the same ``columns``
    ("base.child" too), raises the same KeyError for an unknown one,
    and decodes on the same two sites: small surviving chunk sets
    decode in this process before search_text returns (errors raise
    here), larger ones in the returned DataFrame's Spark job."""
    from .kernels.bloom import bloom_contains

    def may_hold(e):
        tb = e["columns"].get(column, {}).get("token_bloom")
        return tb is None or bloom_contains(tb, token)

    decoded = _read(spark, table_dir,
                    columns and list(dict.fromkeys([*columns, column])),
                    lambda entries: filter(may_hold, entries), None, None)
    hits = decoded.filter(
        F.array_contains(F.split(F.col(_bt(column)), " "), token))
    return hits.select([_bt(c) for c in columns]) if columns else hits


def _accumulate_column_stats(entries: list[dict], column: str) -> dict:
    n = nulls = 0
    mn = mx = total = None
    have_all_sums = True
    for e in entries:
        m = e["columns"].get(column)
        if m is None:  # schema evolution: column absent → all null
            n += e["n_rows"]
            nulls += e["n_rows"]
            continue
        n += m["n"]
        nulls += m["nulls"]
        if m.get("min") is not None:
            mn = m["min"] if mn is None else min(mn, m["min"])
        if m.get("max") is not None:
            mx = m["max"] if mx is None else max(mx, m["max"])
        if m.get("sum") is not None:
            total = m["sum"] if total is None else total + m["sum"]
        elif m["n"] > m["nulls"]:
            have_all_sums = False
    return {"count": n, "null_count": nulls, "min": mn, "max": mx,
            "sum": total, "have_all_sums": have_all_sums}


def _merge_column_stats(parts: list[dict]) -> dict:
    out = {"count": 0, "null_count": 0, "min": None, "max": None,
           "sum": None, "have_all_sums": True}
    for p in parts:
        out["count"] += p["count"]
        out["null_count"] += p["null_count"]
        for k, pick in (("min", min), ("max", max)):
            if p[k] is not None:
                out[k] = p[k] if out[k] is None else pick(out[k], p[k])
        if p["sum"] is not None:
            out["sum"] = (p["sum"] if out["sum"] is None
                          else out["sum"] + p["sum"])
        out["have_all_sums"] &= p["have_all_sums"]
    return out


def column_stats(table_dir: str, column: str,
                 snapshot_id: int | None = None,
                 spark: SparkSession | None = None) -> dict:
    """Aggregate pushdown from the manifest alone — count / null_count
    / min / max / sum (numerics) without touching a chunk file, the
    way Parquet readers answer these from RowGroup statistics. Returns
    None fields when a chunk lacks the stat (conservative).

    Pass ``spark`` to compute shard partials in executor tasks on the
    task plane (manifest._task_plane: more chunks than one shard holds)
    — the driver then merges O(shards) partials instead of walking every
    entry: 0.83 s vs 0.48 s on the driver at 10,000 chunks, 1.50 s vs
    3.15 s at 65,536 (BENCH/BASELINE.md, Round 15)."""
    refs = manifest.load_refs(table_dir, snapshot_id=snapshot_id)
    if refs is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")

    def partial(entries):
        return [{"part": json.dumps(_accumulate_column_stats(entries,
                                                             column))}]

    if manifest._task_plane(spark, refs["n_chunks"]):
        rows = manifest.scan_shards(
            spark, table_dir, [r["file"] for r in refs["manifest_shards"]],
            partial, "part string").collect()
    else:
        rows = partial(
            manifest.load(table_dir, snapshot_id=snapshot_id)["entries"])
    st = _merge_column_stats([json.loads(r["part"]) for r in rows])
    return {
        "count": st["count"],
        "null_count": st["null_count"],
        "min": st["min"],
        "max": st["max"],
        "sum": st["sum"] if st["have_all_sums"] else None,
    }


def count_rows(table_dir: str, snapshot_id: int | None = None) -> int:
    """Exact row count straight from the snapshot LISTING — no Spark
    job, no chunk I/O, and no per-entry materialization either (the
    commit already totalled n_rows; Parquet readers do the same from
    RowGroup.num_rows)."""
    refs = manifest.load_refs(table_dir, snapshot_id=snapshot_id)
    if refs is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return refs["n_rows"]


def verify_roundtrip(source: DataFrame, decoded: DataFrame,
                     key_cols: tuple[str, ...]) -> dict:
    """Bit-identity check: decoded ⋈ source must match exactly
    (set-equality via exceptAll both directions — north_rule invariant)."""
    cols = source.columns
    d = decoded.select(*cols)
    missing = d.exceptAll(source).count()
    extra = source.exceptAll(d).count()
    return {
        "identical": missing == 0 and extra == 0,
        "rows_only_in_decoded": missing,
        "rows_only_in_source": extra,
    }
