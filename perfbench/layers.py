"""Per-layer measurement for ``--trace 1`` runs, all taken from outside the
engine:

1. ``Tracer``: driver-side spans around the public calls a workload makes
   (``table`` writes and reads, ``manifest`` commit and load, chunk
   pruning), kept in memory and written out when the run ends.
2. ``spark_metrics``: task and SQL metrics parsed from the Spark event
   log, plus a kernel-free control job and the fixed cost of a job launch.
3. ``replay``: a Spark-free, in-process re-encode and re-decode of the
   written table's chunks, grouped per encode task (manifest ``attempt``)
   so the per-task FSST symbol-table cache sees the same chunk sequence.
   It times the profile, codec choice, codec, entropy, kernel, CRC and
   file-write stages, and checks that every chunk's ``enc_bytes``
   matches the manifest — otherwise it would be timing another program.
"""

from __future__ import annotations

import glob
import json
import os
import time
import zlib
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import COLUMNS, quantile

# ------------------------------------------------------------- spans


class Tracer:
    """Wraps module attributes with timing spans. Spans carry an id, a
    name, the id of the span that caused them, and start/end times."""

    def __init__(self):
        self.spans: list[tuple[int, str, int | None, float, float]] = []
        self.reads: list[dict] = []  # one record per read_table call
        self._stack: list[int] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                if not tracer.enabled:
                    self.id = None
                    return self
                tracer._next += 1
                self.id = tracer._next
                self.parent = tracer._stack[-1] if tracer._stack else None
                tracer._stack.append(self.id)
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                if self.id is None:
                    return False
                t1 = time.perf_counter()
                tracer._stack.pop()
                tracer.spans.append((self.id, name, self.parent, self.t0, t1))
                return False

        return _Span()

    def wrap(self, module, attr: str, name: str, hook=None) -> None:
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if hook is not None and tracer.enabled:
                hook(args, kwargs, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def install(self) -> None:
        from parquet_go_spark import manifest, table

        self.wrap(table, "write_table", "table.write_table")
        self.wrap(table, "write_table_direct", "table.write_table_direct")
        self.wrap(table, "read_table", "table.read_table",
                  hook=self._on_read)
        self.wrap(table, "prune_entries", "decode.prune_entries",
                  hook=self._on_prune)
        for fn in ("commit", "commit_shards"):
            self.wrap(manifest, fn, "manifest.commit")
        for fn in ("load", "load_refs"):
            self.wrap(manifest, fn, "manifest.load")

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def _on_read(self, args, kwargs, out) -> None:
        cols = kwargs.get("columns")
        if cols is None and len(args) > 2:
            cols = args[2]
        if self.reads and self.reads[-1].get("columns", 0) == 0:
            self.reads[-1]["columns"] = cols
        else:
            self.reads.append({"columns": cols})

    def _on_prune(self, args, kwargs, out) -> None:
        entries, preds = args[0], args[1] if len(args) > 1 else None
        # pruning runs inside read_table, before its hook fires
        self.reads.append({"entries": entries, "predicates": preds,
                           "kept": out, "columns": 0})

    def note_rows(self, rows: int) -> None:
        """Rows an operation's read returned to the caller."""
        if self.enabled and self.reads:
            self.reads[-1]["rows"] = rows

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, n, _, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": i, "name": n, "parent": p, "start": t0,
                        "end": t1} for i, n, p, t0, t1 in self.spans], f)


def _median_or_zero(xs) -> float:
    return quantile(xs, 0.5) if xs else 0.0


def span_metrics(tracer: Tracer, table_dir: str) -> dict:
    """table/manifest/decode-pruning metrics: a median per call for
    times, a mean per read for pruning counts."""
    from parquet_go_spark import manifest
    from parquet_go_spark.decode import prune_entries

    out = {
        "table.read_plan_s": (_median_or_zero(
            tracer.durations("table.read_table")), "s"),
        "manifest.load_s": (_median_or_zero(
            tracer.durations("manifest.load")), "s"),
        "manifest.commit_s": (_median_or_zero(
            tracer.durations("manifest.commit")), "s"),
    }
    listed = stats_pruned = bloom_pruned = decoded = 0
    bytes_read = rows_decoded = rows_returned = 0
    reads = [r for r in tracer.reads if "entries" in r]
    for r in reads:
        entries, kept = r["entries"], r["kept"]
        no_bloom = [
            {**e, "columns": {c: {k: v for k, v in m.items() if k != "bloom"}
                              for c, m in e["columns"].items()}}
            for e in entries
        ] if r["predicates"] else entries
        after_stats = len(prune_entries(no_bloom, r["predicates"]))
        listed += len(entries)
        stats_pruned += len(entries) - after_stats
        bloom_pruned += after_stats - len(kept)
        decoded += len(kept)
        cols = r.get("columns") or (list(kept[0]["columns"]) if kept else [])
        for e in kept:
            rows_decoded += e["n_rows"]
            bytes_read += sum(e["columns"][c]["enc_bytes"]
                              for c in cols if c in e["columns"])
        rows_returned += r.get("rows", 0)
    n = max(len(reads), 1)
    out.update({
        "decode.chunks_listed": (listed / n, "count/read"),
        "decode.pruned_stats": (stats_pruned / n, "count/read"),
        "decode.pruned_bloom": (bloom_pruned / n, "count/read"),
        "decode.chunks_decoded": (decoded / n, "count/read"),
        "decode.bytes_read": (bytes_read / n, "B/read"),
        "decode.rows_returned_per_row_decoded": (
            rows_returned / rows_decoded if rows_decoded else 0.0, "ratio"),
    })
    mdir = os.path.join(table_dir, "_manifests")
    out["manifest.bytes"] = (sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(mdir, "*"))
        if os.path.isfile(p)), "B")
    refs = manifest.load_refs(table_dir)
    out["manifest.snapshots"] = ((refs["snapshot_id"] + 1) if refs else 0,
                                 "count")
    return out


# ------------------------------------------------------------- spark

def tag(sc, op: str) -> None:
    """Label the jobs that follow with the operation kind (read back
    from the event log's job properties)."""
    sc.setLocalProperty("perfbench.op", op)


def spark_event_metrics(event_dir: str, main_kind: str) -> dict:
    """Task and SQL metrics of the jobs tagged ``main_kind``, per
    operation: tasks, task time median/max, GC time, shuffle bytes
    written and bytes moved across the Python worker boundary."""
    stage_op: dict[int, str] = {}
    job_op: dict[int, str] = {}
    tasks: list[dict] = []
    files = sorted(glob.glob(os.path.join(event_dir, "*", "events_*"))
                   + glob.glob(os.path.join(event_dir, "local-*")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    op = (e.get("Properties") or {}).get("perfbench.op")
                    job_op[e["Job ID"]] = op
                    for sid in e.get("Stage IDs", []):
                        stage_op[sid] = op
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    ops = {op for op in job_op.values() if op and op.startswith(main_kind + "#")}
    n_ops = max(len(ops), 1)
    durs, gc, shuffle, sent, returned = [], 0.0, 0, 0, 0
    for e in tasks:
        op = stage_op.get(e.get("Stage ID"))
        if not op or not op.startswith(main_kind + "#"):
            continue
        info = e.get("Task Info", {})
        durs.append((info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1e3)
        m = e.get("Task Metrics") or {}
        gc += m.get("JVM GC Time", 0) / 1e3
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        for a in info.get("Accumulables", []):
            name = a.get("Name")
            if name == "data sent to Python workers":
                sent += int(a.get("Update", 0))
            elif name == "data returned from Python workers":
                returned += int(a.get("Update", 0))
    return {
        "spark.tasks": (len(durs) / n_ops, "count/op"),
        "spark.task_s_p50": (_median_or_zero(durs), "s"),
        "spark.task_s_max": (max(durs) if durs else 0.0, "s"),
        "spark.gc_s": (gc / n_ops, "s/op"),
        "spark.shuffle_write_bytes": (shuffle / n_ops, "B/op"),
        "spark.python_bytes_sent": (sent / n_ops, "B/op"),
        "spark.python_bytes_returned": (returned / n_ops, "B/op"),
    }


def spark_floor_s(spark, src_dir: str, num_chunks: int, reps: int = 3) -> float:
    """Kernel-free control: scan → the encode exchange on ``_ck`` → a
    mapInArrow that only counts rows. What a shuffle-path write costs
    before any engine kernel runs. Median of ``reps``."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_dir)
    par = spark.sparkContext.defaultParallelism
    staged = df.withColumn(
        "_ck", F.pmod(F.xxhash64("conv_id"), F.lit(num_chunks))
    ).repartition(max(1, min(num_chunks, 4 * par)), "_ck")

    def count(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        staged.mapInArrow(count, "n long").agg(F.sum("n")).collect()
        xs.append(time.perf_counter() - t0)
    return quantile(xs, 0.5)


def spark_job_launch_s(spark, reps: int = 5) -> float:
    """Fixed cost of one Spark job through a Python worker: a one-row
    mapInArrow round trip. Median of ``reps``."""
    df = spark.createDataFrame([(1,)], "x long")

    def ident(batches):
        yield from batches

    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.mapInArrow(ident, "x long").collect()
        xs.append(time.perf_counter() - t0)
    return quantile(xs, 0.5)


# ------------------------------------------------------------- replay

class _Patch:
    """Context manager that swaps module attributes and restores them."""

    def __init__(self):
        self.saved = []

    def set(self, module, attr, value):
        self.saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, value)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for module, attr, orig in reversed(self.saved):
            setattr(module, attr, orig)
        return False


def _read_blobs(path: str) -> dict[str, bytes]:
    from parquet_go_spark.encode import BLOB_COL_PREFIX

    t = pq.read_table(path)
    return {name[len(BLOB_COL_PREFIX):]: t.column(name)[0].as_py()
            for name in t.column_names}


def replay(table_dir: str, snapshot_id, out_dir: str, seed: int) -> dict:
    """Re-encode and re-decode every chunk of one snapshot in process and
    time each stage; see the module docstring."""
    from parquet_go_spark import codec, encode, manifest
    from parquet_go_spark.decode import make_decode_fn
    from parquet_go_spark.kernels import fsst, native

    listing = manifest.load(table_dir, snapshot_id=snapshot_id)
    entries = listing["entries"]
    by_task: dict[str, list[dict]] = defaultdict(list)
    for e in entries:
        by_task[e.get("attempt", "")].append(e)
    tasks = sorted((sorted(g, key=lambda e: e["chunk_id"])
                    for g in by_task.values()),
                   key=lambda g: g[0]["chunk_id"])

    acc = defaultdict(float)
    enc_s = defaultdict(float)
    dec_s = defaultdict(float)
    col_bytes = defaultdict(int)
    n_rows = 0
    state = {"col": None, "calls": 0, "mute": False, "chosen": {}}
    fsst_calls = fsst_reused = 0

    o_profile, o_choose = encode.profile_array, encode.choose_codec
    o_encode, o_crc = encode.encode_array, encode.chunk_content_crc
    o_write = encode._write_chunk_file
    o_train, o_fsst_enc = fsst.fsst_train, fsst.fsst_encode
    o_fsst_dec = fsst.fsst_decode

    def profile(arr, name="", *a, **k):
        state["col"], state["calls"] = name, 0
        t0 = time.perf_counter()
        out = o_profile(arr, name, *a, **k)
        acc["plan.profile_s"] += time.perf_counter() - t0
        return out

    def choose(st):
        t0 = time.perf_counter()
        out = o_choose(st)
        acc["plan.choose_s"] += time.perf_counter() - t0
        state["chosen"][state["col"]] = out[0]
        return out

    def enc(arr, codec_name, entropy="none", cache=None, name=None):
        col = state["col"]
        state["calls"] += 1
        primary = state["calls"] == 1
        snap = dict(cache) if cache is not None else None
        t0 = time.perf_counter()
        out = o_encode(arr, codec_name, entropy, cache=cache, name=name)
        dt = time.perf_counter() - t0
        enc_s[col] += dt
        if not primary:
            acc["plan.trial_s"] += dt
            acc["plan.trials"] += 1
        elif entropy != "none":
            # the same call without the entropy stage; its time is kept
            # out of every other figure
            state["mute"] = True
            t1 = time.perf_counter()
            o_encode(arr, codec_name, "none", cache=snap, name=name)
            dn = time.perf_counter() - t1
            state["mute"] = False
            acc["codec.entropy_s"] += dt - dn
            acc["_excluded"] += dn
        return out

    def crc(chunk):
        t0 = time.perf_counter()
        out = o_crc(chunk)
        acc["encode.crc_s"] += time.perf_counter() - t0
        return out

    def write(path, tbl, entry):
        t0 = time.perf_counter()
        out = o_write(path, tbl, entry)
        acc["encode.write_file_s"] += time.perf_counter() - t0
        return out

    def train(data):
        t0 = time.perf_counter()
        out = o_train(data)
        if not state["mute"]:
            acc["kernels.fsst_train_s"] += time.perf_counter() - t0
            state["trained"] = True
        return out

    def fsst_enc(*a, **k):
        nonlocal fsst_calls, fsst_reused
        state["trained"] = False
        t0 = time.perf_counter()
        out = o_fsst_enc(*a, **k)
        if not state["mute"]:
            acc["_fsst_enc_s"] += time.perf_counter() - t0
            fsst_calls += 1
            fsst_reused += not state["trained"]
        return out

    def fsst_dec(buf):
        t0 = time.perf_counter()
        out = o_fsst_dec(buf)
        if not state["mute"]:
            acc["kernels.fsst_decode_s"] += time.perf_counter() - t0
        return out

    rng = np.random.default_rng([seed, 11])
    mismatched = []
    kept_trials = 0
    with _Patch() as p:
        p.set(encode, "profile_array", profile)
        p.set(encode, "choose_codec", choose)
        p.set(encode, "encode_array", enc)
        p.set(encode, "chunk_content_crc", crc)
        p.set(encode, "_write_chunk_file", write)
        p.set(fsst, "fsst_train", train)
        p.set(fsst, "fsst_encode", fsst_enc)
        p.set(fsst, "fsst_decode", fsst_dec)
        for group in tasks:
            cache: dict = {}
            for e in group:
                blobs = _read_blobs(os.path.join(table_dir, e["file"]))
                names = list(e["columns"])
                # the chunk as the engine saw it, rebuilt from its blobs
                state["mute"] = True
                chunk = pa.table({c: codec.decode_array(blobs[c])
                                  for c in names})
                state["mute"] = False
                key_cols = tuple(e.get("sort_order") or ("conv_id", "turn_idx"))
                blooms = tuple(c for c, m in e["columns"].items()
                               if m.get("bloom"))
                # sort stage: the engine sorts each task's rows by key;
                # time that sort on a seeded shuffle of this chunk
                shuffled = chunk.take(pa.array(rng.permutation(chunk.num_rows)))
                t0 = time.perf_counter()
                shuffled.take(pc.sort_indices(
                    shuffled, sort_keys=[(k, "ascending") for k in key_cols]
                )).combine_chunks()
                acc["encode.sort_s"] += time.perf_counter() - t0
                state["chosen"] = {}
                excl0 = acc["_excluded"]
                t0 = time.perf_counter()
                got = encode._encode_or_reuse(
                    chunk, e["chunk_id"], out_dir, key_cols, {}, False,
                    blooms, e.get("attempt", ""), cache=cache,
                )
                acc["encode.chunk_s"] += (time.perf_counter() - t0
                                          - (acc["_excluded"] - excl0))
                acc["encode.chunks"] += 1
                for c, m in got["columns"].items():
                    if m["codec"] != state["chosen"].get(c, m["codec"]):
                        kept_trials += 1
                if (got["enc_bytes"] != e["enc_bytes"] or any(
                        got["columns"][c]["enc_bytes"]
                        != e["columns"][c]["enc_bytes"] for c in names)):
                    mismatched.append(e["chunk_id"])
                # decode side: the engine's decode function over this
                # chunk file, then per-column CRC and codec decode
                path = os.path.join(table_dir, e["file"])
                batch = pa.RecordBatch.from_pydict({"file": [path]})
                fn = make_decode_fn(names)
                state["mute"] = True
                t0 = time.perf_counter()
                for _ in fn(iter([batch])):
                    pass
                acc["decode.chunk_s"] += time.perf_counter() - t0
                state["mute"] = False
                for c in names:
                    t0 = time.perf_counter()
                    zlib.crc32(blobs[c])
                    acc["decode.crc_s"] += time.perf_counter() - t0
                    t0 = time.perf_counter()
                    codec.decode_array(blobs[c])
                    dec_s[c] += time.perf_counter() - t0
                    col_bytes[c] += e["columns"][c]["enc_bytes"]
                n_rows += e["n_rows"]

    out = {k: (v, "count" if k in ("plan.trials", "encode.chunks") else "s")
           for k, v in acc.items() if not k.startswith("_")}
    for k in ("plan.profile_s", "plan.choose_s", "plan.trial_s",
              "codec.entropy_s", "kernels.fsst_train_s",
              "kernels.fsst_decode_s", "encode.sort_s", "encode.crc_s",
              "encode.write_file_s", "encode.chunk_s", "decode.chunk_s",
              "decode.crc_s"):
        out.setdefault(k, (0.0, "s"))
    out.setdefault("plan.trials", (0, "count"))
    out.setdefault("encode.chunks", (0, "count"))
    out["plan.trial_win_ratio"] = (
        kept_trials / acc["plan.trials"] if acc["plan.trials"] else 0.0,
        "ratio")
    out["kernels.fsst_parse_s"] = (
        max(acc["_fsst_enc_s"] - acc["kernels.fsst_train_s"], 0.0), "s")
    out["kernels.fsst_reuse_ratio"] = (
        fsst_reused / fsst_calls if fsst_calls else 0.0, "ratio")
    out["kernels.native"] = (1 if native.available() else 0, "bool")
    for c in COLUMNS:
        out[f"codec.enc_s.{c}"] = (enc_s.get(c, 0.0), "s")
        out[f"codec.dec_s.{c}"] = (dec_s.get(c, 0.0), "s")
        out[f"codec.b_per_row.{c}"] = (col_bytes.get(c, 0) / max(n_rows, 1),
                                       "B/row")
    out["trace.replay_chunks_mismatched"] = (len(mismatched), "count")
    return out

