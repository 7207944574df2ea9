"""No-Spark host-envelope control for the N->4N scaling evidence.

Runs the EXACT direct-path encode task (``encode.make_encode_fn`` over
``encode.file_chunks``: pyarrow file read -> sort -> encode -> chunk
write) over the same input files at 1 and then P OS processes — no
JVM, no shuffle, no Arrow IPC, no scheduler. Whatever 1->P speedup
THIS shows is the ceiling any single-box Spark pair can reach for the
same byte stream: if the bare kernels in plain processes scale below
4x, the residual gap in the cluster cells is the host's shared
memory/IO envelope, not the plan.

Usage:
    python scripts/host_control.py <input_parquet_dir> [P] [files_per_chunk]

Prints one JSON line per level plus a final efficiency line, e.g.::

    {"procs": 1, "wall_s": ..., "mb_s": ...}
    {"procs": 4, "wall_s": ..., "mb_s": ...}
    {"control": "host_envelope", "speedup": ..., "efficiency": ...}

Results are recorded in BENCH/BASELINE.md (round-5 scaling section).
"""

from __future__ import annotations

import glob
import json
import multiprocessing as mp
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_slice(args) -> tuple[int, int]:
    """Encode a contiguous slice of chunk groups in one process, through
    the direct path's task function."""
    groups, out_dir, k = args
    import pyarrow as pa

    from parquet_go_spark.encode import (file_chunks, make_chunk_id,
                                         make_encode_fn)

    key_cols = ("conv_id", "turn_idx")
    fn = make_encode_fn(file_chunks(key_cols), out_dir, key_cols,
                        resume=False)
    # one reuse group per process, as the direct path's one group per task
    batch = pa.RecordBatch.from_pydict({
        "group": [k],
        "chunk_id": [[make_chunk_id("", i) for i, _ in groups]],
        "files": [[files for _, files in groups]]})
    raw = enc = 0
    for out in fn(iter([batch])):
        entry = json.loads(out.column("entry_json")[0].as_py())
        raw += entry["raw_bytes"]
        enc += entry["enc_bytes"]
    return raw, enc


def _level(groups, procs: int, out_root: str) -> tuple[float, int]:
    out_dir = os.path.join(out_root, f"p{procs}")
    shutil.rmtree(out_dir, ignore_errors=True)
    # contiguous grouping like the direct path's chunk->task blocks:
    # consecutive chunks stay in one worker (table reuse).
    per = (len(groups) + procs - 1) // procs
    slices = [
        (groups[k * per : (k + 1) * per], out_dir, k) for k in range(procs)
    ]
    t0 = time.time()
    if procs == 1:
        results = [_run_slice(slices[0])]
    else:
        with mp.get_context("spawn").Pool(procs) as pool:
            results = pool.map(_run_slice, slices)
    wall = time.time() - t0
    raw = sum(r[0] for r in results)
    return wall, raw


def main() -> int:
    src = sys.argv[1]
    procs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    fpc = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    files = sorted(glob.glob(f"{src}/*.parquet"))
    groups = [
        (i, files[j : j + fpc])
        for i, j in enumerate(range(0, len(files), fpc))
    ]
    out_root = "/tmp/pgs_host_control"

    # warm pass: page-cache the input + import/compile the native .so
    # in the parent before timing (same warm-executor discipline as
    # scripts/submit_job.py).
    _run_slice(([groups[0]], os.path.join(out_root, "warm"), 0))

    wall1, raw = _level(groups, 1, out_root)
    print(json.dumps({"procs": 1, "wall_s": round(wall1, 2),
                      "mb_s": round(raw / wall1 / 1e6, 1)}))
    wallp, _ = _level(groups, procs, out_root)
    print(json.dumps({"procs": procs, "wall_s": round(wallp, 2),
                      "mb_s": round(raw / wallp / 1e6, 1)}))
    speedup = wall1 / wallp
    print(json.dumps({
        "control": "host_envelope", "raw_bytes": raw,
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / procs, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
