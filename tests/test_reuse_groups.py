"""FSST reuse groups vs. encode tasks.

The encoded bytes depend on which chunks share a symbol-table cache
(the reuse group), not on which Spark task runs them: a write stages
one wave of encode tasks, each running whole groups, and gets the
bytes the one-group-per-task staging gets."""

from __future__ import annotations

import glob
import hashlib
import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

N_CHUNKS = 64


@pytest.fixture(scope="module")
def landed(tmp_path_factory):
    """800 conversations landed as 16 parquet files."""
    from parquet_go_spark.fixtures import make_transcripts

    d = tmp_path_factory.mktemp("src")
    tbl = make_transcripts(800, seed=11)
    step = -(-tbl.num_rows // 16)
    for i in range(16):
        pq.write_table(tbl.slice(i * step, step), str(d / f"p{i:03d}.parquet"))
    return sorted(glob.glob(str(d / "*.parquet")))


def _blob_digests(table_dir: str) -> dict:
    """{chunk file: sha256 of each encoded blob}; the embedded entry
    carries per-run fields (attempt, encode_s), the blobs do not."""
    out = {}
    for f in sorted(glob.glob(os.path.join(table_dir, "chunks", "*.parquet"))):
        t = pq.read_table(f)
        out[os.path.basename(f)] = {
            c: hashlib.sha256(t.column(c)[0].as_py()).hexdigest()
            for c in t.column_names}
    return out


def _entries(table_dir: str) -> list[dict]:
    from parquet_go_spark import manifest

    return manifest.load(table_dir)["entries"]


def _task(entry: dict) -> str:
    return entry["attempt"].split("-g")[0]


def test_shuffle_write_runs_one_wave_with_same_bytes(spark, landed, tmp_path,
                                                     monkeypatch, encode_site):
    from parquet_go_spark import table as T

    encode_site("task")     # the input is small enough for the driver
    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(*landed)
    wave = str(tmp_path / "wave")
    T.write_table(df, wave, num_chunks=N_CHUNKS)
    tasks = {_task(e) for e in _entries(wave)}
    assert len(tasks) <= par

    # the same write with one reuse group per task
    monkeypatch.setattr(T, "_encode_tasks", lambda n_groups, *_: n_groups)
    forced = str(tmp_path / "forced")
    T.write_table(df, forced, num_chunks=N_CHUNKS)
    assert len({_task(e) for e in _entries(forced)}) == 4 * par

    got, want = _blob_digests(wave), _blob_digests(forced)
    assert len(got) == N_CHUNKS
    assert got == want


@pytest.mark.parametrize("n", [4, 16, 64])
def test_reuse_group_is_hash_partition_id(spark, n):
    from parquet_go_spark import table as T

    df = (spark.range(20_000)
          .withColumn("_ck", F.pmod(F.xxhash64("id"), F.lit(1000)))
          .withColumn("_g", T._reuse_group(n))
          .repartition(n, "_ck"))
    off = df.filter(F.col("_g") != F.spark_partition_id()).count()
    assert off == 0


def test_encode_tasks_keep_groups_whole():
    from parquet_go_spark.table import _encode_tasks

    assert _encode_tasks(16, 4, 1) == 4
    assert _encode_tasks(16, 5, 1) == 8     # 5 would split groups
    assert _encode_tasks(16, 40, 1) == 16
    assert _encode_tasks(7, 4, 1) == 7
    assert _encode_tasks(16, 4, 4) == 16    # 4 × 128 MB: one per group
    for groups in range(1, 70):
        for par in range(1, 70):
            t = _encode_tasks(groups, par, 1)
            assert groups % t == 0 and t >= min(par, groups)


def _reencode_groups(table_dir: str, entries: list[dict], out_dir: str):
    """Re-encode each attempt label's chunks in process, in chunk-id
    order with a fresh cache; returns the chunk ids whose enc_bytes
    differ from the table's."""
    from parquet_go_spark import codec, encode

    by_label = defaultdict(list)
    for e in entries:
        by_label[e["attempt"]].append(e)
    mismatched = []
    for group in by_label.values():
        cache: dict = {}
        for e in sorted(group, key=lambda e: e["chunk_id"]):
            t = pq.read_table(os.path.join(table_dir, e["file"]))
            chunk = pa.table({
                c: codec.decode_array(
                    t.column(encode.BLOB_COL_PREFIX + c)[0].as_py())
                for c in e["columns"]})
            got = encode._encode_or_reuse(
                chunk, e["chunk_id"], out_dir, tuple(e["sort_order"]), {},
                False, (), e["attempt"], cache=cache)
            if got["enc_bytes"] != e["enc_bytes"]:
                mismatched.append(e["chunk_id"])
    return mismatched


def test_attempt_label_names_one_reuse_group(spark, landed, tmp_path,
                                             encode_site):
    from parquet_go_spark import table as T

    encode_site("task")     # the input is small enough for the driver
    par = spark.sparkContext.defaultParallelism
    shuffle = str(tmp_path / "shuffle")
    T.write_table(spark.read.parquet(*landed), shuffle, num_chunks=N_CHUNKS)
    direct = str(tmp_path / "direct")
    T.write_table_direct(spark, landed, direct)

    n_groups = 4 * par
    ck_group = {r.ck: r.g for r in spark.range(N_CHUNKS).select(
        F.col("id").alias("ck"),
        F.pmod(F.hash("id"), F.lit(n_groups)).alias("g")).collect()}
    n = len(landed)
    cases = [(shuffle, lambda i: ck_group[i], n_groups),
             (direct, lambda i: i * par // n, par)]
    for table_dir, group_of, want_groups in cases:
        entries = _entries(table_dir)
        groups = defaultdict(set)
        for e in entries:
            groups[e["attempt"]].add(group_of(int(e["chunk_id"])))
        assert all(len(g) == 1 for g in groups.values()), groups
        assert len(groups) == want_groups
        assert _reencode_groups(table_dir, entries,
                                str(tmp_path / "replay")) == []
    # the direct path runs each group in its own task
    assert len({_task(e) for e in _entries(direct)}) == par


def test_driver_site_appends_replay_per_write(spark, landed, tmp_path,
                                             encode_site):
    """Each driver-site write labels its chunks with its own run, so a
    replay that groups chunks by attempt label never puts groups of two
    writes into one FSST cache."""
    from parquet_go_spark import table as T
    from parquet_go_spark.fixtures import make_transcripts

    encode_site("driver")
    out = str(tmp_path / "t")
    T.write_table(spark.read.parquet(*landed), out, num_chunks=8)
    for k in range(3):
        batch = make_transcripts(120, seed=20 + k, conv_prefix=f"a{k}-")
        T.write_table(spark.createDataFrame(batch), out, num_chunks=2,
                      append=True, chunk_prefix=f"a{k}-")
    entries = _entries(out)
    runs = defaultdict(set)
    for e in entries:
        assert e["attempt"].startswith("driver"), e["attempt"]
        runs[e["chunk_id"].split("-")[0] if "-" in e["chunk_id"]
             else "base"].add(_task(e))
    assert len(runs) == 4 and all(len(r) == 1 for r in runs.values())
    assert len(set.union(*runs.values())) == 4
    assert _reencode_groups(out, entries, str(tmp_path / "replay")) == []


def test_decode_rows_split_across_cores(spark, landed, tmp_path):
    """Driver-held job rows stage as min(rows, cores) contiguous slices,
    one partition each, whether Spark keeps them as a local relation
    (default threshold) or, above spark.sql.execution.arrow.
    localRelationThreshold (0), makes each Arrow batch a partition."""
    from parquet_go_spark import manifest
    from parquet_go_spark import table as T

    par = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "t")
    T.write_table(spark.read.parquet(*landed), out, num_chunks=N_CHUNKS)
    rows = T._chunk_rows(out, _entries(out), ["conv_id"])
    key = "spark.sql.execution.arrow.localRelationThreshold"
    default = spark.conf.get(key)
    try:
        for threshold in (default, "0"):
            spark.conf.set(key, threshold)
            for k in (1, par - 1, N_CHUNKS):
                files_df = manifest._rows_df(spark, rows[:k],
                                             T._CHUNK_FILES_DDL)
                m = min(k, par)
                assert files_df.rdd.getNumPartitions() == m, threshold
                got = files_df.rdd.glom().map(
                    lambda part: [r.chunk_id for r in part]).collect()
                assert got == [[r["chunk_id"]
                                for r in rows[j * k // m:(j + 1) * k // m]]
                               for j in range(m)], threshold
    finally:
        spark.conf.set(key, default)


@pytest.fixture
def arrow_off(spark):
    """Spark's default: pandas conversion without Arrow."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def test_decoded_input_stages_as_unknown_size(spark, landed, tmp_path,
                                              arrow_off, decode_site):
    """A job-site decode's size estimate is its file list's, a few KB;
    writing or compacting it must not size chunks or tasks from that."""
    from parquet_go_spark import table as T

    decode_site("job")
    src = str(tmp_path / "src")
    T.write_table(spark.read.parquet(*landed), src, num_chunks=24)
    back = T.read_table(spark, src)
    n_rows = back.count()

    # num_chunks=None: the count fallback, not ceil(few KB / 64 MB) = 1
    out = str(tmp_path / "out")
    info = T.write_table(back, out, rows_per_chunk=500)
    assert info["n_rows"] == n_rows
    assert info["n_chunks"] == -(-n_rows // 500) > 1

    # compact re-encodes a decode with an explicit chunk count: its
    # manifest row count sizes the staging (one wave of tasks), and the
    # encode stays on the tasks
    per_chunk = -(-n_rows // 12)
    T.compact(spark, src, min_rows=1 << 30, rows_per_chunk=per_chunk)
    nc = -(-n_rows // per_chunk)
    new = [e for e in _entries(src) if e["chunk_id"].startswith("c")]
    assert len(new) == nc > spark.sparkContext.defaultParallelism
    assert all(e["attempt"].startswith("task") for e in new)
    assert len({_task(e) for e in new}) <= \
        spark.sparkContext.defaultParallelism
