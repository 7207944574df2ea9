"""The two encode sites of write_table and write_table_direct.

A small driver-plane write encodes in the driver process; every other
write encodes in Spark tasks. Both sites run the same reuse groups in
the same chunk order, so they must write the same bytes, and the site
rule (``manifest._driver_encode``) must keep task-plane writes and
inputs of unknown or large size on the tasks."""

from __future__ import annotations

import glob
import hashlib
import os
import time

import pyarrow.parquet as pq
import pytest

from parquet_go_spark import encode, manifest
from parquet_go_spark import table as T
from parquet_go_spark.fixtures import make_transcripts

# per-run fields of an entry: which run wrote it, and how long it took
RUN_FIELDS = ("attempt", "encode_s")


@pytest.fixture(scope="module")
def landed(tmp_path_factory):
    """400 conversations landed as 16 parquet files."""
    d = tmp_path_factory.mktemp("src")
    tbl = make_transcripts(400, seed=5)
    step = -(-tbl.num_rows // 16)
    for i in range(16):
        pq.write_table(tbl.slice(i * step, step), str(d / f"p{i:03d}.parquet"))
    return sorted(glob.glob(str(d / "*.parquet")))


def _blob_digests(table_dir: str) -> dict:
    out = {}
    for f in sorted(glob.glob(os.path.join(table_dir, "chunks", "*.parquet"))):
        t = pq.read_table(f)
        out[os.path.basename(f)] = {
            c: hashlib.sha256(t.column(c)[0].as_py()).hexdigest()
            for c in t.column_names}
    return out


def _entries(table_dir: str, drop=RUN_FIELDS) -> list[dict]:
    return sorted(({k: v for k, v in e.items() if k not in drop}
                   for e in manifest.load(table_dir)["entries"]),
                  key=lambda e: e["chunk_id"])


def _sites(table_dir: str) -> set:
    """The encode sites that wrote the current snapshot's chunks."""
    return {"driver" if e["attempt"].startswith("driver") else "task"
            for e in manifest.load(table_dir)["entries"]}


def _mixed_df(spark):
    """Struct, map, timestamp, array-of-timestamp and interval columns."""
    return spark.range(3000).selectExpr(
        "concat('c', lpad(cast(id % 97 as string), 4, '0')) as conv_id",
        "cast(id as int) as turn_idx",
        "timestamp_seconds(1700000000 + id * 37) as ts",
        "named_struct('u', id % 7, 't', timestamp_seconds(1600000000 + id))"
        " as meta",
        "map('k', cast(id % 5 as double), 'j', cast(id as double)) as attrs",
        "array(timestamp_seconds(1500000000 + id), null) as stamps",
        "make_dt_interval(0, cast(id % 24 as int), 0, 1.5) as iv")


def _write(spark, landed, tmp, case: str) -> str:
    out = str(tmp)
    if case == "shuffle_64_chunks":
        T.write_table(spark.read.parquet(*landed), out, num_chunks=64)
    elif case == "append_with_bloom":
        T.write_table(spark.read.parquet(*landed[:8]), out, num_chunks=4,
                      bloom_cols=("conv_id",))
        T.write_table(spark.read.parquet(*landed[8:]), out, num_chunks=8,
                      append=True, chunk_prefix="b-",
                      bloom_cols=("conv_id",))
    elif case == "direct_16_files":
        T.write_table_direct(spark, landed, out)
    else:
        T.write_table(_mixed_df(spark), out, key_cols=("conv_id", "turn_idx"),
                      num_chunks=8)
    return out


@pytest.mark.parametrize("case", ["shuffle_64_chunks", "append_with_bloom",
                                  "direct_16_files", "mixed_types"])
def test_sites_write_same_bytes(spark, landed, tmp_path, encode_site, case):
    """Forced onto each site by the bound alone, a write gives
    sha256-identical blobs and entries that differ only in the run's
    label and time. The mixed-type write runs in a non-UTC session:
    encode tasks see timestamps in the session zone."""
    key = "spark.sql.session.timeZone"
    zone = spark.conf.get(key)
    if case == "mixed_types":
        spark.conf.set(key, "America/Los_Angeles")
    try:
        got = {}
        for site in ("task", "driver"):
            encode_site(site)
            got[site] = _write(spark, landed, tmp_path / site, case)
            assert _sites(got[site]) == {site}
    finally:
        spark.conf.set(key, zone)
    task, driver = got["task"], got["driver"]
    if case == "shuffle_64_chunks":
        groups = {e["attempt"].split("-g")[1]
                  for e in manifest.load(task)["entries"]}
        assert len(_blob_digests(task)) == 64 and len(groups) == 16
    assert _blob_digests(driver) == _blob_digests(task)
    assert _entries(driver) == _entries(task)


def test_unknown_size_input_stays_on_tasks(spark, landed, tmp_path,
                                           encode_site):
    """A Python-mapped plan has no size Catalyst knows: tasks, whatever
    the bound."""
    encode_site("driver")
    df = spark.read.parquet(*landed)
    mapped = df.mapInArrow(lambda it: it, df.schema)
    out = str(tmp_path / "t")
    T.write_table(mapped, out, num_chunks=4)
    assert _sites(out) == {"task"}


def test_task_plane_write_stays_on_tasks(spark, landed, tmp_path,
                                         monkeypatch, encode_site):
    """A write whose commit runs in tasks encodes in tasks, on both
    paths, however small its input."""
    encode_site("driver")
    monkeypatch.setattr(manifest, "DISTRIBUTED_MANIFEST_MIN_CHUNKS", 4)
    shuffle, direct = str(tmp_path / "s"), str(tmp_path / "d")
    T.write_table(spark.read.parquet(*landed), shuffle, num_chunks=4)
    T.write_table_direct(spark, landed[:4], direct)
    assert _sites(shuffle) == _sites(direct) == {"task"}
    # one chunk short of the plane threshold: the driver again
    T.write_table_direct(spark, landed[:3], str(tmp_path / "d3"))
    assert _sites(str(tmp_path / "d3")) == {"driver"}


def test_bound_is_inclusive_input_weight(spark, landed, tmp_path,
                                         monkeypatch):
    """The shuffle path sizes its input by the Catalyst estimate, the
    direct path by the summed input-file bytes, and each chunk adds
    DRIVER_ENCODE_CHUNK_BYTES; a write of exactly the bound encodes on
    the driver, one byte more in tasks."""
    df = spark.read.parquet(*landed)
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes()))
    files = sum(os.path.getsize(f) for f in landed)
    per_chunk = manifest.DRIVER_ENCODE_CHUNK_BYTES
    for name, weight, write in (
            ("s", est + 4 * per_chunk,
             lambda out: T.write_table(df, out, num_chunks=4)),
            ("d", files + len(landed) * per_chunk,
             lambda out: T.write_table_direct(spark, landed, out))):
        for bound, site in ((weight - 1, "task"), (weight, "driver")):
            monkeypatch.setattr(manifest, "DRIVER_ENCODE_MAX_BYTES", bound)
            out = str(tmp_path / f"{name}{bound}")
            write(out)
            assert _sites(out) == {site}, (name, bound)


def test_small_append_runs_one_job_and_no_exchange(spark, landed, tmp_path):
    """At the default bound a micro-batch append runs one Spark job of
    one stage (the collect of its tagged rows): no exchange, no
    mapInArrow encode stage."""
    out = str(tmp_path / "t")
    T.write_table(spark.read.parquet(*landed[:8]), out, num_chunks=4,
                  bloom_cols=("conv_id",))
    batch = spark.read.parquet(landed[8])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("small-append", "small append")
    try:
        T.write_table(batch, out, num_chunks=1, append=True,
                      chunk_prefix="b-", bloom_cols=("conv_id",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def settled():
        jobs = tracker.getJobIdsForGroup("small-append")
        return jobs and all(tracker.getJobInfo(j).status == "SUCCEEDED"
                            for j in jobs)

    # the status store fills from the listener bus, after the job returns
    deadline = time.time() + 30
    while not settled() and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)
    jobs = tracker.getJobIdsForGroup("small-append")
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(jobs) <= 1 and len(stages) <= 1, (jobs, stages)
    appended = [e for e in manifest.load(out)["entries"]
                if e["chunk_id"].startswith("b-")]
    assert appended and all(e["attempt"].startswith("driver")
                            for e in appended)


def test_driver_site_fault_leaves_snapshot_and_resumes(spark, landed,
                                                       tmp_path, monkeypatch,
                                                       encode_site):
    """A chunk write that fails on the driver site raises from the write
    and commits nothing; the rerun reuses the chunk that landed and
    commits what a clean write commits."""
    encode_site("driver")
    base, batch = landed[:8], spark.read.parquet(*landed[8:])
    out, clean = str(tmp_path / "t"), str(tmp_path / "clean")
    for d in (out, clean):
        T.write_table(spark.read.parquet(*base), d, num_chunks=4)
    before = manifest.load(out)
    orig, calls = encode._write_chunk_file, []

    def fail_second(*a, **k):
        calls.append(a[0])
        if len(calls) == 2:
            raise OSError("disk full")
        return orig(*a, **k)

    monkeypatch.setattr(encode, "_write_chunk_file", fail_second)
    with pytest.raises(OSError, match="disk full"):
        T.write_table(batch, out, num_chunks=4, append=True,
                      chunk_prefix="b-")
    assert manifest.load(out) == before
    monkeypatch.setattr(encode, "_write_chunk_file", orig)

    T.write_table(batch, out, num_chunks=4, append=True, chunk_prefix="b-",
                  resume=True)
    T.write_table(batch, clean, num_chunks=4, append=True, chunk_prefix="b-")
    reused = [e["chunk_id"] for e in manifest.load(out)["entries"]
              if e["reused"]]
    assert reused == [os.path.basename(calls[0])[len("chunk-"):-len(
        ".parquet")]]
    drop = (*RUN_FIELDS, "reused")
    assert _entries(out, drop) == _entries(clean, drop)
    assert _blob_digests(out) == _blob_digests(clean)
