"""The two workloads. Each one makes its inputs from the seed, sets up
its on-disk state, and then yields operations for the closed loop in
``run.py``; each operation checks its own output and returns whether it
was correct. Each has three operation kinds: a main, a side and a read
operation.

- ``bulk_write``: writes one fresh table through the shuffle path
  (``table.write_table``, main), scans all of it back
  (``table.read_table`` plus a JVM checksum, read), and writes one
  through the direct path (``table.write_table_direct``, side) over the
  same landed parquet files.
- ``ingest_lookup``: appends micro-batches (side) to a
  conv_id-range-chunked table with a conv_id bloom filter, runs point
  lookups by conv_id (main) and a projected ts-window read (read).
"""

from __future__ import annotations

import datetime
import glob
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import checksum_columns, rmtree

# bulk_write input: 12,000 conversations ≈ 245k rows,
# ≈ 61 MB of raw Arrow, landed as 32 parquet files
BULK_CONVS = 12_000
# bulk_write folds the seed onto this many fixture variants, each with
# its encoded bytes pinned in pins.json, so every write is checked
# against a pin whatever the seed
BULK_VARIANTS = 16
N_FILES = 32
NUM_CHUNKS = 64
# ingest_lookup: 5,000 base conversations in range chunks of 100, and
# micro-batches of 100 conversations whose conv ids interleave across
# the key range above the base (so bloom filters, not only min/max
# stats, decide which appended chunks a lookup may skip)
INGEST_CONVS = 5_000
CONVS_PER_CHUNK = 100
BATCH_CONVS = 100
# lookups per cycle, by key source: the first two read a conversation
# of one of the RECENT_BATCHES newest micro-batches, the third a base
# conversation (a fixed mix, so that the median does not jump between
# the two latency modes as the seeded draws vary)
LOOKUP_SOURCES = ("recent", "recent", "base")
RECENT_BATCHES = 3
# micro-batches made per run: two are appended per cycle, so this caps the
# appends; a fixed count keeps the data independent of --seconds
N_BATCHES = 32


def make_inputs(n_conv: int, seed: int):
    from parquet_go_spark.fixtures import make_transcripts

    return make_transcripts(n_conv, seed=seed)


def land(tbl: pa.Table, path: str, n_files: int) -> list[str]:
    """Write ``tbl`` as ``n_files`` parquet files (small row groups, so
    the Spark scan parallelizes); returns the sorted file list."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-tbl.num_rows // n_files))
    for i in range(0, tbl.num_rows, step):
        pq.write_table(tbl.slice(i, step),
                       os.path.join(path, f"part-{i // step:05d}.parquet"),
                       row_group_size=1 << 15)
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def reference_bytes(tbl: pa.Table, path: str) -> int:
    """Bytes of pyarrow's default Parquet file (snappy + dictionary) for
    the same rows: the size the engine is judged against."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    n = os.path.getsize(path)
    os.unlink(path)
    return n


def _normalized(t: pa.Table) -> pa.Table:
    """Sort by key and compare timestamps as int64 micros (Spark returns
    them UTC-zoned, the fixture naive)."""
    cols = {}
    for name in t.column_names:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        cols[name] = c
    t = pa.table(cols)
    keys = [k for k in ("conv_id", "turn_idx", "ts") if k in t.column_names]
    return t.sort_by([(k, "ascending") for k in keys]).combine_chunks()


def tables_equal(got: pa.Table, want: pa.Table) -> bool:
    if got.num_rows != want.num_rows:
        return False
    g, w = _normalized(got), _normalized(want)
    return all(g.column(c).equals(w.column(c)) for c in w.column_names)


class Workload:
    """Base: subclasses fill in set-up, warm-up, the operation cycle and
    the post-run check."""

    main_kind: str
    side_kind: str
    read_kind: str

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed

    def rep_dir(self, rep: int) -> str:
        return os.path.join(self.ctx.run_dir, f"setup-{rep}")

    def op_metrics(self, lat: dict) -> list[tuple[str, list, str]]:
        """Per-operation samples of the workload's named metrics, as
        ``(name, samples, unit)``; a ``*_tail_ms`` name is reported as a
        tail, every other one by its quartiles."""
        return []

    def details(self) -> dict:
        """Scalar figures of the run, ``{name: (value, unit)}``."""
        return {}


class BulkWrite(Workload):
    main_kind = "shuffle_write"
    side_kind = "direct_write"
    read_kind = "scan"

    def make(self) -> None:
        self.variant = self.seed % BULK_VARIANTS
        self.tbl = make_inputs(BULK_CONVS, self.variant)

    def setup(self, rep: int) -> None:
        d = self.rep_dir(rep)
        tbl = self.tbl
        self.files = land(tbl, os.path.join(d, "src"), N_FILES)
        self.raw_bytes = tbl.nbytes
        self.n_rows = tbl.num_rows
        self.ref_bytes = reference_bytes(tbl, os.path.join(d, "ref.parquet"))
        self.src_dir = os.path.join(d, "src")
        self.n = 0
        self.enc = {"shuffle_write": None, "direct_write": None}
        self.last = {}

    def finish_setup(self) -> None:
        self.src_sum = checksum_columns(self.spark.read.parquet(self.src_dir))
        self.df = self.spark.read.parquet(self.src_dir)

    def _write(self, kind: str) -> tuple[bool, dict]:
        from parquet_go_spark import table as T

        self.n += 1
        out = os.path.join(self.ctx.run_dir, f"out-{self.n:04d}-{kind}")
        if kind == "shuffle_write":
            info = T.write_table(self.df, out, num_chunks=NUM_CHUNKS)
        else:
            info = T.write_table_direct(self.spark, self.files, out)
        return self._check(kind, out, info)

    def _check(self, kind, out, info) -> tuple[bool, dict]:
        ok = info["n_rows"] == self.n_rows and info["raw_bytes"] > 0
        first = self.enc[kind]
        if first is None:
            self.enc[kind] = info["enc_bytes"]
        elif first != info["enc_bytes"]:
            ok = False  # encode must be byte-deterministic
        pinned = self.ctx.pin(self.variant, kind)
        if pinned != info["enc_bytes"]:
            print(f"{kind}: encoded {info['enc_bytes']} B, pinned {pinned}"
                  f" for fixture variant {self.variant}", file=sys.stderr)
            ok = False
        return ok, {"out": out}

    def _scan(self) -> tuple[bool, dict]:
        """Read every column of the newest shuffle-path table and compare
        its JVM checksum with the source's."""
        from parquet_go_spark import table as T

        got = checksum_columns(T.read_table(self.spark,
                                            self.last["shuffle_write"]))
        self.ctx.note_rows(got["_rows"])
        return got == self.src_sum, {}

    def cycle(self):
        # a scan after each write (both read the newest shuffle-path
        # table): the scan is the noisiest of the three, so it gets the
        # most samples
        yield "shuffle_write", lambda: self._write("shuffle_write")
        yield "scan", self._scan
        yield "direct_write", lambda: self._write("direct_write")
        yield "scan", self._scan

    def after_op(self, kind: str, info: dict) -> None:
        """Keep the newest table per write path; drop the one before it
        (outside the timed region)."""
        if "out" not in info:
            return
        prev = self.last.get(kind)
        if prev:
            rmtree(prev)
        self.last[kind] = info["out"]

    def warmup(self) -> None:
        # the first cycle after a cold one still runs ~15% slow (JIT)
        for _ in range(2):
            for kind, fn in self.cycle():
                ok, info = fn()
                self.after_op(kind, info)

    def verify(self) -> bool:
        """Decode the newest direct-path table once (every scan already
        checked a shuffle-path one)."""
        from parquet_go_spark import table as T

        got = checksum_columns(T.read_table(self.spark,
                                            self.last["direct_write"]))
        self.ctx.note_rows(got["_rows"])
        return got == self.src_sum

    def size_vs_reference(self) -> float:
        return self.enc["shuffle_write"] / self.ref_bytes

    def op_metrics(self, lat: dict) -> list[tuple[str, list, str]]:
        mb = self.raw_bytes / 1e6
        return [(name, [mb / x for x in lat.get(kind, [])], "MB/s")
                for kind, name in (("shuffle_write", "encode_mb_s"),
                                   ("direct_write", "encode_direct_mb_s"),
                                   ("scan", "scan_mb_s"))]

    def details(self) -> dict:
        out = {"fixture_variant": (self.variant, "")}
        for kind, prefix in (("shuffle_write", ""), ("direct_write", "direct_")):
            enc = self.enc[kind]
            if enc is not None:
                out[f"{prefix}size_vs_reference"] = (enc / self.ref_bytes,
                                                     "ratio")
                out[f"{prefix}encoded_bytes"] = (enc, "B")
        out["reference_bytes"] = (self.ref_bytes, "B")
        out["raw_bytes"] = (self.raw_bytes, "B")
        return out

    def replay_target(self):
        return self.last["shuffle_write"], None


def batch_ids(k: int, n: int) -> list[str]:
    """conv ids of micro-batch k: strided across the key range above the
    base, so every batch's [min, max] overlaps every other batch's."""
    return [f"conv-{INGEST_CONVS + j * N_BATCHES + k:08d}" for j in range(n)]


class IngestLookup(Workload):
    main_kind = "lookup"
    side_kind = "append"
    read_kind = "range_read"

    def make(self) -> None:
        from parquet_go_spark.fixtures import make_transcripts

        base = self.base = make_inputs(INGEST_CONVS, self.seed)
        self.raw_bytes = base.nbytes
        self.batches = []
        for k in range(N_BATCHES):
            b = make_transcripts(BATCH_CONVS, seed=self.seed * 1000 + k + 1)
            ids = np.array(batch_ids(k, BATCH_CONVS))
            conv_no = pc.cast(pc.utf8_slice_codeunits(b["conv_id"], 5),
                              pa.int64()).to_numpy()
            self.batches.append(
                b.set_column(0, "conv_id", pa.array(ids[conv_no])))
        self.conv_ids = np.unique(base["conv_id"].to_numpy(zero_copy_only=False))
        ts = base["ts"].cast(pa.int64())
        self.ts_lo, self.ts_hi = pc.min(ts).as_py(), pc.max(ts).as_py()

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from parquet_go_spark import table as T

        d = self.rep_dir(rep)
        self.ref_bytes = reference_bytes(self.base,
                                         os.path.join(d, "ref.parquet"))
        src = self.src_dir = os.path.join(d, "src")
        land(self.base, src, 8)
        self.table_dir = os.path.join(d, "table")
        ck = F.floor(F.substring("conv_id", 6, 8).cast("long")
                     / F.lit(CONVS_PER_CHUNK))
        info = T.write_table(
            self.spark.read.parquet(src), self.table_dir, chunk_expr=ck,
            num_chunks=-(-INGEST_CONVS // CONVS_PER_CHUNK),
            bloom_cols=("conv_id",),
        )
        self.enc_bytes = info["enc_bytes"]
        self.base_snapshot = info["snapshot_id"]
        self.batch_files = []
        for k, b in enumerate(self.batches):
            path = os.path.join(d, f"batch-{k:04d}.parquet")
            pq.write_table(b, path)
            self.batch_files.append(path)
        self.appended = 0
        self.rng = np.random.default_rng([self.seed, 7])

    def finish_setup(self) -> None:
        self.source = [self.base]

    def _append(self) -> tuple[bool, dict]:
        from parquet_go_spark import table as T

        k = self.appended
        info = T.write_table(
            self.spark.read.parquet(self.batch_files[k]), self.table_dir,
            append=True, chunk_prefix=f"b{k:04d}-", num_chunks=1,
            bloom_cols=("conv_id",),
        )
        self.appended += 1
        self.source.append(self.batches[k])
        ok = info["n_rows"] == self.batches[k].num_rows
        return ok, {"raw_bytes": info["raw_bytes"]}

    def _key(self, source: str) -> str:
        """A seeded draw from one of the newest appended batches (base if
        none is appended yet) or from the base conversations."""
        if source == "recent" and self.appended:
            k = self.appended - 1 - int(self.rng.integers(
                0, min(RECENT_BATCHES, self.appended)))
            ids = batch_ids(k, BATCH_CONVS)
            return ids[int(self.rng.integers(0, len(ids)))]
        return str(self.conv_ids[int(self.rng.integers(0, len(self.conv_ids)))])

    def _expected(self, mask_fn) -> pa.Table:
        parts = [t.filter(mask_fn(t)) for t in self.source]
        return pa.concat_tables(parts)

    def _lookup(self, source: str) -> tuple:
        from parquet_go_spark import table as T

        key = self._key(source)
        got = T.read_table(self.spark, self.table_dir,
                           predicates={"conv_id": key},
                           push_row_filter=True).toArrow()
        self.ctx.note_rows(got.num_rows)

        def check() -> bool:
            want = self._expected(lambda t: pc.equal(t["conv_id"], key))
            return want.num_rows > 0 and tables_equal(got, want)

        return check, {"rows": got.num_rows}

    def _range_read(self) -> tuple:
        from parquet_go_spark import table as T

        span = 6 * 3600 * 1_000_000
        start = int(self.rng.integers(self.ts_lo, self.ts_hi - span))
        epoch = datetime.datetime(1970, 1, 1)
        lo = epoch + datetime.timedelta(microseconds=start)
        hi = epoch + datetime.timedelta(microseconds=start + span)
        got = T.read_table(self.spark, self.table_dir,
                           columns=["conv_id", "ts"],
                           predicates={"ts": (lo, hi)},
                           push_row_filter=True).toArrow()
        self.ctx.note_rows(got.num_rows)

        def check() -> bool:
            lo_s = pa.scalar(lo, pa.timestamp("us"))
            hi_s = pa.scalar(hi, pa.timestamp("us"))
            want = self._expected(
                lambda t: pc.and_(pc.greater_equal(t["ts"], lo_s),
                                  pc.less_equal(t["ts"], hi_s))
            ).select(["conv_id", "ts"])
            return tables_equal(got, want)

        return check, {"rows": got.num_rows}

    def cycle(self):
        # two appends per cycle: an append is noisier than a read, so it
        # needs more samples than one per cycle gives
        if self.appended < N_BATCHES:
            yield "append", self._append
        for source in LOOKUP_SOURCES:
            yield "lookup", lambda source=source: self._lookup(source)
        yield "range_read", self._range_read
        if self.appended < N_BATCHES:
            yield "append", self._append

    def after_op(self, kind, info) -> None:
        pass

    def warmup(self) -> None:
        # reads only: an append here would change the timed table
        for _ in range(3):
            self._lookup("base")
            self._range_read()

    def verify(self) -> bool:
        from parquet_go_spark import table as T

        return T.count_rows(self.table_dir) == sum(t.num_rows
                                                   for t in self.source)

    def size_vs_reference(self) -> float:
        return self.enc_bytes / self.ref_bytes

    def op_metrics(self, lat: dict) -> list[tuple[str, list, str]]:
        out = []
        for kind in ("append", "lookup", "range_read"):
            ms = [x * 1e3 for x in lat.get(kind, [])]
            out.append((f"{kind}_p50_ms", ms, "ms"))
            if kind != "range_read":
                out.append((f"{kind}_tail_ms", ms, "ms"))
        return out

    def details(self) -> dict:
        return {"size_vs_reference": (self.size_vs_reference(), "ratio"),
                "appends": (self.appended, "count")}

    def replay_target(self):
        return self.table_dir, self.base_snapshot


WORKLOADS = {
    "bulk_write": BulkWrite,
    "ingest_lookup": IngestLookup,
}
