"""End-to-end Spark encode → decode → bit-identity (SURVEY.md §5.2 #3/#5/#6)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from parquet_go_spark import manifest, table
from parquet_go_spark.fixtures import make_transcripts_df


@pytest.fixture(scope="module")
def transcripts(spark):
    return make_transcripts_df(spark, n_conv=300, seed=42).cache()


def test_roundtrip_identity(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbl") / "t1")
    summary = table.write_table(transcripts, out, num_chunks=6)
    assert summary["n_rows"] == transcripts.count()
    assert summary["n_chunks"] >= 1
    decoded = table.read_table(spark, out)
    res = table.verify_roundtrip(transcripts, decoded, ("conv_id", "turn_idx"))
    assert res["identical"], res


def test_compression_beats_raw(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbl") / "t2")
    s = table.write_table(transcripts, out, num_chunks=4)
    assert s["enc_bytes"] < s["raw_bytes"] / 2.5, s


def test_projection_pushdown(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbl") / "t3")
    table.write_table(transcripts, out, num_chunks=4)
    df = table.read_table(spark, out, columns=["role", "conv_id"])
    assert df.columns == ["role", "conv_id"]
    src = transcripts.groupBy("role").count()
    got = df.groupBy("role").count()
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in src.collect()}


def test_chunk_skipping(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbl") / "t4")
    table.write_table(transcripts, out, num_chunks=8)
    one_conv = "conv-00000007"
    pruned = table.read_table(
        spark, out, predicates={"conv_id": (one_conv, one_conv)}
    )
    full = transcripts.filter(f"conv_id = '{one_conv}'")
    got = pruned.filter(f"conv_id = '{one_conv}'")
    assert got.count() == full.count()
    # pruning must actually skip chunks: a single conv lives in 1 chunk
    listing = manifest.load(out)
    from parquet_go_spark.decode import prune_entries

    kept = prune_entries(listing["entries"], {"conv_id": (one_conv, one_conv)})
    assert len(kept) < listing["n_chunks"]


def test_resume_skips_committed_chunks(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tbl") / "t5")
    s1 = table.write_table(transcripts, out, num_chunks=6)
    assert s1["reused_chunks"] == 0
    # simulate a crashed job: manifest gone, some chunk files survive
    os.unlink(os.path.join(out, "_manifest_list.json"))
    victims = sorted(glob.glob(os.path.join(out, "chunks", "*.parquet")))[:2]
    for v in victims:
        os.unlink(v)
    s2 = table.write_table(transcripts, out, num_chunks=6)
    assert s2["reused_chunks"] == s1["n_chunks"] - len(victims)
    assert s2["n_rows"] == s1["n_rows"]
    decoded = table.read_table(spark, out)
    assert table.verify_roundtrip(transcripts, decoded, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_skew_salting_splits_giant_conv(spark, tmp_path_factory):
    df = make_transcripts_df(spark, n_conv=50, seed=7, giant_conv_turns=100_000)
    out = str(tmp_path_factory.mktemp("tbl") / "t6")
    s = table.write_table(df, out, num_chunks=32, salt_block=16_384)
    listing = manifest.load(out)
    sizes = [e["n_rows"] for e in listing["entries"]]
    # giant conv (100k turns, ~7 salt blocks) must be split across chunks;
    # any one chunk holds at most a few hash-colliding blocks
    assert max(sizes) < 100_000, sizes
    assert max(sizes) <= 3 * 16_384 + 2_000, sizes
    decoded = table.read_table(spark, out)
    assert table.verify_roundtrip(df, decoded, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_size_gate_vs_parquet_baseline(spark, tmp_path_factory):
    """BASELINE.md: our encoded size must be ≤ pyarrow parquet snappy+dict."""
    import pyarrow.parquet as pq

    from parquet_go_spark.fixtures import make_transcripts

    tbl = make_transcripts(2000, 42)
    ref = str(tmp_path_factory.mktemp("ref") / "ref.parquet")
    pq.write_table(tbl, ref, compression="snappy", use_dictionary=True)
    ref_size = os.path.getsize(ref)

    df = spark.createDataFrame(
        tbl.to_pandas(),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("tbl") / "t7")
    s = table.write_table(df, out, num_chunks=4)
    assert s["enc_bytes"] <= ref_size, (s["enc_bytes"], ref_size)


def test_row_filter_pushdown(spark, transcripts, tmp_path):
    """push_row_filter=True must return exactly the matching rows,
    filtered inside the decode kernel (no residual filter)."""
    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=6)
    lo, hi = 5, 9
    got = table.read_table(
        spark, out, predicates={"turn_idx": (lo, hi)}, push_row_filter=True
    )
    import pyspark.sql.functions as F

    want = transcripts.filter(F.col("turn_idx").between(lo, hi))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_compact_streaming_table(spark, tmp_path):
    """Many small streaming chunks → compact → fewer chunks, same data,
    orphans deleted."""
    import pyarrow.parquet as pq

    from parquet_go_spark import streaming
    from parquet_go_spark.fixtures import make_transcripts

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(make_transcripts(40, seed=200 + i),
                       f"{src}/f{i}.parquet")
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    tbl = str(tmp_path / "tbl")
    stream = (spark.readStream.schema(ddl)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming.encode_stream(stream, tbl, str(tmp_path / "ckpt"),
                                chunks_per_batch=4)
    q.awaitTermination(120)

    before = manifest.load(tbl)
    src_df = spark.read.schema(ddl).parquet(src)
    res = table.compact(spark, tbl, min_rows=10_000)
    after = manifest.load(tbl)
    assert res["compacted_chunks"] == before["n_chunks"]
    assert after["n_chunks"] < before["n_chunks"]
    assert after["n_rows"] == before["n_rows"]
    # superseded files are gone, data identical
    files = set(glob.glob(os.path.join(tbl, "chunks", "*.parquet")))
    assert len(files) == after["n_chunks"]
    back = table.read_table(spark, tbl)
    assert back.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(back).count() == 0


def test_bloom_point_lookup_prunes_chunks(spark, transcripts, tmp_path):
    """Bloom on conv_id: a point lookup must prune to the one chunk
    holding the conversation and return exactly its rows."""
    from parquet_go_spark.decode import prune_entries

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=12,
                      bloom_cols=("conv_id",))
    listing = manifest.load(out)
    assert all("bloom" in e["columns"]["conv_id"]
               for e in listing["entries"])
    target = "conv-00000007"
    kept = prune_entries(listing["entries"], {"conv_id": target})
    assert 1 <= len(kept) <= 2  # hash-chunked: conv lives in one chunk
    got = table.read_table(spark, out, predicates={"conv_id": target},
                           push_row_filter=True)
    import pyspark.sql.functions as F

    want = transcripts.filter(F.col("conv_id") == target)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


@pytest.mark.parametrize("op", ["compact", "delete_rows", "upsert_table"])
def test_rewrite_ops_keep_blooms(spark, tmp_path, op):
    """compact, delete_rows and upsert_table re-encode chunks with the
    blooms and token blooms of the chunks they replace, on the same
    columns, so point lookups and search_text keep pruning them."""
    import pyspark.sql.functions as F

    from parquet_go_spark.decode import prune_entries

    df = make_transcripts_df(spark, n_conv=60, seed=71)
    out = str(tmp_path / "tbl")
    blooms = {"bloom_cols": ("conv_id",), "token_bloom_cols": ("text",)}
    target = "conv-00000007"
    if op == "compact":
        first = F.col("conv_id") < "conv-00000030"
        table.write_table(df.filter(first), out, num_chunks=3,
                          chunk_prefix="a-", append=True, **blooms)
        table.write_table(df.filter(~first), out, num_chunks=3,
                          chunk_prefix="b-", append=True, **blooms)
        res = table.compact(spark, out, min_rows=10**6, rows_per_chunk=300)
        assert res["new_chunks"] > 1
    else:
        table.write_table(df, out, num_chunks=4, **blooms)
        if op == "delete_rows":
            res = table.delete_rows(spark, out, {"conv_id": target})
        else:
            res = table.upsert_table(spark, out, df.filter(
                F.col("conv_id") == target).withColumn("text", F.lit("x y")))
        assert res["rewritten_chunks"] >= 1
    entries = manifest.load(out)["entries"]
    for e in entries:
        assert {c for c, m in e["columns"].items() if "bloom" in m} \
            == {"conv_id"}, e["chunk_id"]
        assert {c for c, m in e["columns"].items() if "token_bloom" in m} \
            == {"text"}, e["chunk_id"]
    if op == "compact":
        kept = prune_entries(entries, {"conv_id": target})
        assert 1 <= len(kept) < len(entries)
        got = table.read_table(spark, out, predicates={"conv_id": target},
                               push_row_filter=True)
        want = df.filter(F.col("conv_id") == target)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0


def test_time_travel_snapshot(spark, transcripts, tmp_path):
    """Snapshots stay readable when writes use distinct chunk
    namespaces (chunk ids are content-addressed: a same-id rewrite
    replaces the file, so versioned writes must prefix)."""
    out = str(tmp_path / "tbl")
    table.write_table(transcripts.limit(100), out, num_chunks=2,
                      key_cols=("conv_id", "turn_idx"))
    table.write_table(transcripts, out, num_chunks=4, resume=False,
                      chunk_prefix="v2-")
    old = table.read_table(spark, out, snapshot_id=0)
    new = table.read_table(spark, out)
    assert old.count() == 100
    assert new.count() == transcripts.count()


def test_corrupted_chunk_detected(spark, transcripts, tmp_path,
                                  decode_site):
    """A flipped byte in a chunk file must surface as a CRC error at
    decode, not as silent wrong data (M7, parquet.thrift:807-824), on
    both decode sites."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=2)
    victim = glob.glob(os.path.join(out, "chunks", "*.parquet"))[0]
    t = pq.read_table(victim)
    import pyarrow as pa

    name = t.column_names[0]  # one blob column per encoded column
    b = bytearray(t.column(name)[0].as_py())
    b[len(b) // 2] ^= 0xFF
    cols = {n: t.column(n) for n in t.column_names}
    cols[name] = pa.array([bytes(b)], pa.large_binary())
    pq.write_table(
        pa.table(cols).replace_schema_metadata(t.schema.metadata),
        victim, compression="none",
    )
    for site in ("job", "driver"):
        decode_site(site)
        with pytest.raises(Exception, match="CRC mismatch"):
            table.read_table(spark, out).count()


def test_schema_evolution_null_fills_old_chunks(spark, tmp_path):
    """Chunks written before a column existed decode as nulls for it
    (additive schema evolution, the common transcripts case)."""
    import pyspark.sql.functions as F

    df_v1 = make_transcripts_df(spark, n_conv=40, seed=11)
    out = str(tmp_path / "tbl")
    table.write_table(df_v1, out, num_chunks=2, chunk_prefix="v1-")
    df_v2 = make_transcripts_df(spark, n_conv=30, seed=12).withColumn(
        "model", F.lit("m-1")
    )
    table.write_table(df_v2, out, num_chunks=2, chunk_prefix="v2-",
                      append=True)
    back = table.read_table(spark, out)
    assert "model" in back.columns
    n1, n2 = df_v1.count(), df_v2.count()
    assert back.count() == n1 + n2
    assert back.filter(F.col("model").isNull()).count() == n1
    assert back.filter(F.col("model") == "m-1").count() == n2


def test_validate_schema(spark, transcripts):
    table.validate_schema(transcripts)  # contract shape passes
    with pytest.raises(ValueError, match="missing column 'ts'"):
        table.validate_schema(transcripts.drop("ts"))
    with pytest.raises(ValueError, match="expected int"):
        import pyspark.sql.functions as F

        table.validate_schema(
            transcripts.withColumn("turn_idx", F.col("turn_idx").cast("long"))
        )


def test_write_empty_dataframe(spark, transcripts, tmp_path):
    out = str(tmp_path / "tbl")
    empty = transcripts.filter("1 = 0")
    info = table.write_table(empty, out, num_chunks=2)
    assert info["n_rows"] == 0 and info["n_chunks"] == 0
    back = table.read_table(spark, out)
    assert back.count() == 0
    assert back.columns == transcripts.columns


def test_resume_rejects_stale_values_same_keys(spark, transcripts, tmp_path):
    """Same keys, same row counts, changed NON-KEY values: the content
    fingerprint (entry.data_crc) must force a re-encode — key-range
    checks alone would silently serve the old text (VERDICT r1 #1)."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=4)
    fixed = transcripts.withColumn(
        "text", F.concat(F.lit("corrected: "), F.col("text"))
    )
    info = table.write_table(fixed, out, num_chunks=4)  # resume=True default
    assert info["reused_chunks"] == 0, info
    back = table.read_table(spark, out)
    assert table.verify_roundtrip(fixed, back, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_time_travel_detects_rewritten_chunk(spark, transcripts, tmp_path,
                                             decode_site):
    """A historical snapshot whose chunk file was rewritten in place
    (same id, no prefix) must fail loudly at decode, on both decode
    sites, not silently return the NEW data (ADVICE r1: per-chunk
    fingerprint verify)."""
    out = str(tmp_path / "tbl")
    table.write_table(transcripts.limit(200), out, num_chunks=2)
    # un-prefixed rewrite: same chunk ids → files replaced in place
    table.write_table(transcripts, out, num_chunks=2, resume=False)
    for site in ("job", "driver"):
        decode_site(site)
        with pytest.raises(Exception,
                           match="rewritten after this snapshot"):
            table.read_table(spark, out, snapshot_id=0).count()
    # the current snapshot still decodes fine
    assert table.read_table(spark, out).count() == transcripts.count()


def test_compact_schema_evolved_table(spark, tmp_path):
    """Compaction over a table whose old chunks predate a column must
    null-fill (not KeyError) and stay single-commit atomic."""
    import pyspark.sql.functions as F

    df_v1 = make_transcripts_df(spark, n_conv=30, seed=21)
    out = str(tmp_path / "tbl")
    table.write_table(df_v1, out, num_chunks=3, chunk_prefix="v1-")
    df_v2 = make_transcripts_df(spark, n_conv=20, seed=22).withColumn(
        "model", F.lit("m-2")
    )
    table.write_table(df_v2, out, num_chunks=3, chunk_prefix="v2-",
                      append=True)
    before = manifest.load(out)
    res = table.compact(spark, out, min_rows=1 << 20)
    after = manifest.load(out)
    # exactly ONE new snapshot: no intermediate duplicate-rows state
    assert after["snapshot_id"] == before["snapshot_id"] + 1
    assert res["compacted_chunks"] == before["n_chunks"]
    assert after["n_rows"] == before["n_rows"]
    back = table.read_table(spark, out)
    assert back.count() == df_v1.count() + df_v2.count()
    assert back.filter(F.col("model").isNull()).count() == df_v1.count()


def test_bloom_type_canonicalization():
    """A probe whose Python type differs from the stored values must
    not produce a false negative (1000 vs 1000.0, bool vs int)."""
    import pyarrow as pa

    from parquet_go_spark.kernels.bloom import bloom_build, bloom_contains

    b_int = bloom_build(pa.array([7, 1000, 123456789], pa.int64()))
    assert bloom_contains(b_int, 1000)
    assert bloom_contains(b_int, 1000.0)  # float probe, int column
    assert not bloom_contains(b_int, 1001)
    b_float = bloom_build(pa.array([1.5, 1000.0], pa.float64()))
    assert bloom_contains(b_float, 1000)  # int probe, float column
    assert bloom_contains(b_float, 1.5)
    assert not bloom_contains(b_float, 2.5)
    b_str = bloom_build(pa.array(["alpha", "beta"]))
    assert bloom_contains(b_str, "alpha")
    assert not bloom_contains(b_str, "gamma")


def test_resume_rejects_stale_chunk_with_same_rowcount(spark, tmp_path):
    """A committed chunk whose key range differs from the current data
    must be re-encoded even when the row count matches."""
    df_a = make_transcripts_df(spark, n_conv=60, seed=31)
    df_b = make_transcripts_df(spark, n_conv=60, seed=32)
    assert df_a.count() != df_b.count() or True  # counts may collide per-chunk
    out = str(tmp_path / "tbl")
    table.write_table(df_a, out, num_chunks=1)
    # same chunking, different data, same chunk id 000000
    info = table.write_table(df_b, out, num_chunks=1)
    assert info["reused_chunks"] == 0
    back = table.read_table(spark, out)
    assert table.verify_roundtrip(df_b, back, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_nested_columns_through_table_layer(spark, transcripts, tmp_path):
    """struct + array + map columns written/decoded through the full
    chunk-table path (transcripts carry nested tool-call metadata)."""
    import pyspark.sql.functions as F

    df = transcripts.withColumn(
        "tool_call",
        F.struct(F.col("tool").alias("name"),
                 F.col("turn_idx").alias("at_turn")),
    ).withColumn(
        "tags", F.array(F.col("role"), F.when(F.col("turn_idx") % 3 == 0,
                                              F.col("tool")))
    ).withColumn(
        "attrs", F.create_map(F.lit("role"), F.col("role"))
    )
    out = str(tmp_path / "tbl")
    info = table.write_table(df, out, num_chunks=4)
    assert info["n_rows"] == df.count()
    back = table.read_table(spark, out)
    # Spark set-ops reject MAP columns — compare via map_entries
    flat = lambda d: d.withColumn("attrs", F.map_entries("attrs"))  # noqa: E731
    res = table.verify_roundtrip(flat(df), flat(back),
                                 ("conv_id", "turn_idx"))
    assert res["identical"], res


def test_sharded_manifest_append_rewrites_one_shard(spark, tmp_path):
    """Manifests are sharded by chunk-id prefix: an append commit must
    write ONLY the shards it touches and reuse the parent's files for
    the rest (O(batch) commit at the 10^12-turn frame)."""
    df = make_transcripts_df(spark, n_conv=60, seed=41)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=3, chunk_prefix="a-")
    l0 = manifest.load(out)
    files0 = {r["file"]: r for r in l0["manifest_shards"]}
    table.write_table(df.limit(50), out, num_chunks=2, chunk_prefix="b-",
                      append=True)
    l1 = manifest.load(out)
    files1 = {r["file"]: r for r in l1["manifest_shards"]}
    shards1 = {r["shard"] for r in l1["manifest_shards"]}
    assert shards1 == {"a-00", "b-00"}
    # the a- shard file is REUSED from snapshot 0, only b- is new
    a_files = [f for f in files1 if "-a-00" in f]
    b_files = [f for f in files1 if "-b-00" in f]
    assert a_files and a_files[0] in files0
    assert b_files and b_files[0].startswith("_manifests/manifest-1-")
    # data intact across both snapshots
    assert table.read_table(spark, out).count() == df.count() + 50
    assert table.read_table(spark, out, snapshot_id=0).count() == df.count()


def test_json_source_nested_and_missing_fields(spark):
    """S5: schema-directed JSON parsing — nested structs populate,
    missing fields become null, no inference."""
    from parquet_go_spark import sources

    rows = [
        ('{"conv_id":"c1","turn_idx":0,"meta":{"tool":"sql","ok":true},'
         '"tags":["a","b"]}',),
        ('{"conv_id":"c2","turn_idx":3}',),
    ]
    df = spark.createDataFrame(rows, "payload string")
    ddl = ("conv_id string, turn_idx int, "
           "meta struct<tool: string, ok: boolean>, tags array<string>")
    got = sources.parse_json_column(df, "payload", ddl).collect()
    by = {r["conv_id"]: r for r in got}
    assert by["c1"]["meta"]["tool"] == "sql" and by["c1"]["tags"] == ["a", "b"]
    assert by["c2"]["meta"] is None and by["c2"]["tags"] is None


def test_delete_rows_prunes_untouched_chunks(spark, transcripts, tmp_path):
    """delete_rows must rewrite only chunks whose stats overlap the
    predicate; untouched chunk files stay byte-identical on disk."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=8)
    before = {
        os.path.basename(p): os.path.getmtime(p)
        for p in glob.glob(os.path.join(out, "chunks", "*.parquet"))
    }
    target = "conv-00000003"
    info = table.delete_rows(spark, out, predicates={"conv_id": target})
    assert 1 <= info["rewritten_chunks"] < 8
    after = {
        os.path.basename(p): os.path.getmtime(p)
        for p in glob.glob(os.path.join(out, "chunks", "*.parquet"))
    }
    untouched = set(before) & set(after)
    assert len(untouched) >= 8 - info["rewritten_chunks"] - 1
    assert all(before[f] == after[f] for f in untouched)
    back = table.read_table(spark, out)
    want = transcripts.filter(F.col("conv_id") != target)
    assert table.verify_roundtrip(want, back, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_upsert_replaces_and_appends(spark, transcripts, tmp_path):
    """upsert_table: same-key rows replaced, new keys appended, only
    the touched hash chunks rewritten."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=6)
    fixes = transcripts.filter(F.col("conv_id") == "conv-00000001") \
        .withColumn("text", F.lit("REDACTED"))
    new_rows = transcripts.filter(F.col("conv_id") == "conv-00000002") \
        .withColumn("conv_id", F.lit("conv-99999999"))
    info = table.upsert_table(spark, out, fixes.unionByName(new_rows))
    assert info["rewritten_chunks"] >= 1
    back = table.read_table(spark, out)
    assert back.filter(F.col("conv_id") == "conv-00000001")
    got_fix = back.filter(F.col("conv_id") == "conv-00000001") \
        .select("text").distinct().collect()
    assert [r["text"] for r in got_fix] == ["REDACTED"]
    assert back.filter(F.col("conv_id") == "conv-99999999").count() \
        == new_rows.count()
    assert back.count() == transcripts.count() + new_rows.count()

    # salt_block=4 spreads the fixed conversation over several chunks:
    # upsert finds them only while it and the write share one hash
    # chunk rule, so the fix must land once per turn and rewrite
    # exactly the chunks that held the conversation
    salted = str(tmp_path / "salted")
    table.write_table(transcripts, salted, num_chunks=6, salt_block=4)
    held = _chunks_holding(salted, "conv-00000001")
    assert held > 1
    info = table.upsert_table(spark, salted, fixes)
    assert info["rewritten_chunks"] == held
    got = table.read_table(spark, salted).filter(
        F.col("conv_id") == "conv-00000001")
    assert got.count() == fixes.count() \
        == got.select("turn_idx").distinct().count()
    assert {r["text"] for r in got.select("text").collect()} == {"REDACTED"}
    assert table.count_rows(salted) == transcripts.count()


def test_upsert_finds_touched_chunks_in_one_job(spark, transcripts, tmp_path,
                                                monkeypatch, spark_jobs):
    """upsert_table reads its touched chunk set, its guard and its row
    count from one grouped-count collect: outside the re-encode it runs
    no more Spark jobs than one aggregation collect of the batch (AQE
    may split either into a map-stage job and a result job). Three
    queries over the batch ran there before (7 jobs at local[4], 10 in
    all; now 2, 5 in all), and returned the same dict as below."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=6)
    fixes = transcripts.filter(F.col("conv_id") == "conv-00000001") \
        .withColumn("text", F.lit("REDACTED"))
    new_rows = transcripts.filter(F.col("conv_id") == "conv-00000002") \
        .withColumn("conv_id", F.lit("conv-99999999"))
    batch = fixes.unionByName(new_rows)
    sc = spark.sparkContext
    encode_jobs = []
    orig = table._encode_entries

    def encode_in_own_group(*a, **k):
        group = sc.getLocalProperty("spark.jobGroup.id")
        res, jobs = spark_jobs(lambda: orig(*a, **k))
        encode_jobs.extend(jobs)
        sc.setJobGroup(group, group)
        return res

    monkeypatch.setattr(table, "_encode_entries", encode_in_own_group)
    info, jobs = spark_jobs(lambda: table.upsert_table(spark, out, batch))
    assert info == {"snapshot_id": 1, "rewritten_chunks": 2,
                    "new_chunks": 0, "upserted_rows": 57}
    assert info["upserted_rows"] == batch.count()
    assert encode_jobs
    _, one_collect = spark_jobs(
        lambda: batch.groupBy("conv_id").count().collect())
    assert 1 <= len(jobs) <= len(one_collect), (jobs, one_collect)


def test_schemas_parses_each_ddl_once(spark, monkeypatch):
    """manifest._schemas memoizes its py4j DDL parse per DDL string."""
    import pyspark.sql.types as T

    ddl = "file string, chunk_id string, n long, tags array<string>"
    first = manifest._schemas(ddl)

    def refuse(_):
        raise AssertionError("DDL parsed again")

    monkeypatch.setattr(T, "_parse_datatype_string", refuse)
    assert manifest._schemas(ddl) == first


def _chunks_holding(table_dir: str, conv_id: str) -> int:
    """How many of the table's chunk files hold a row of ``conv_id``,
    found by decoding each chunk's conv_id column."""
    import pyarrow as pa

    from parquet_go_spark.decode import make_decode_fn

    held = 0
    for e in manifest.load(table_dir)["entries"]:
        b = pa.RecordBatch.from_pydict(
            {"file": [os.path.join(table_dir, e["file"])]})
        ids = {v for out in make_decode_fn(["conv_id"])(iter([b]))
               for v in out.column(0).to_pylist()}
        held += conv_id in ids
    return held


def test_expire_snapshots_gc(spark, tmp_path):
    """expire_snapshots: old snapshots + superseded chunk files are
    deleted; retained snapshots (incl. time travel) stay readable."""
    df = make_transcripts_df(spark, n_conv=40, seed=51)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2, chunk_prefix="v1-")
    table.write_table(df.limit(100), out, num_chunks=1, chunk_prefix="v2-",
                      append=True)
    table.write_table(df.limit(10), out, num_chunks=1, chunk_prefix="v3-",
                      append=True)
    # supersede v1 entirely: rewrite without those chunk ids
    listing = manifest.load(out)
    survivors = [e for e in listing["entries"]
                 if not e["chunk_id"].startswith("v1-")]
    manifest.commit(out, survivors, schema_ddl=listing["schema_ddl"],
                    extra=listing["extra"])
    # keep=2 retains snap 2 (which still references v1) → no GC yet
    res2 = manifest.expire_snapshots(out, keep=2)
    assert res2["deleted_chunks"] == 0
    assert table.read_table(spark, out,
                            snapshot_id=manifest.load(out)["snapshot_id"] - 1
                            ).count() > 0  # retained time travel works
    # keep=1: only the current snapshot survives → v1 chunks GC'd
    res1 = manifest.expire_snapshots(out, keep=1)
    assert res1["expired_snapshots"] >= 1
    assert res1["deleted_chunks"] >= 1
    assert table.read_table(spark, out).count() == 110
    with pytest.raises(FileNotFoundError):
        manifest.load(out, snapshot_id=0)


def test_struct_shredding_projects_child_bytes(spark, transcripts, tmp_path):
    """Top-level structs are shredded into per-child blob columns:
    projecting one child reads only its bytes (plus the tiny shell),
    and both full-struct and flat-child reads round-trip."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    df = transcripts.withColumn(
        "meta",
        F.struct(F.col("role").alias("r"), F.col("text").alias("big"),
                 F.when(F.col("turn_idx") % 5 != 0, F.col("tool"))
                 .alias("t")),
    ).drop("text")
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=3)
    # on-disk layout: per-child blob columns, child bytes dominate big
    f = glob.glob(os.path.join(out, "chunks", "*.parquet"))[0]
    rg = pq.ParquetFile(f).metadata.row_group(0)
    sizes = {rg.column(i).path_in_schema: rg.column(i).total_compressed_size
             for i in range(rg.num_columns)}
    assert "b_meta.big" in sizes and "b_meta.r" in sizes
    assert sizes["b_meta.r"] + sizes["b_meta"] < sizes["b_meta.big"] / 2
    # full-struct round-trip
    back = table.read_table(spark, out)
    res = table.verify_roundtrip(df, back, ("conv_id", "turn_idx"))
    assert res["identical"], res
    # flat child projection decodes only that child
    flat = table.read_table(spark, out, columns=["conv_id", "turn_idx",
                                                 "meta.r"])
    assert flat.columns == ["conv_id", "turn_idx", "meta.r"]
    want = df.select("conv_id", "turn_idx",
                     F.col("meta.r").alias("meta.r"))
    assert flat.exceptAll(want).count() == 0
    assert want.exceptAll(flat).count() == 0
    # child with nulls projects with parent+child nulls merged
    tcol = table.read_table(spark, out, columns=["meta.t"])
    assert tcol.filter(F.col("`meta.t`").isNull()).count() == \
        df.filter(F.col("meta.t").isNull()).count()


def test_direct_path_encode_roundtrip(spark, tmp_path):
    """write_table_direct: tasks read their own input files, no JVM
    scan/shuffle/transfer; decode must match the source exactly and a
    rerun must reuse every chunk."""
    import pyarrow.parquet as pq

    from parquet_go_spark.fixtures import make_transcripts

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = make_transcripts(150, seed=6)
    step = (t.num_rows + 5) // 6
    for i in range(0, t.num_rows, step):
        pq.write_table(t.slice(i, step), f"{src}/f{i//step}.parquet")
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    out = str(tmp_path / "tbl")
    info = table.write_table_direct(spark, files, out, files_per_chunk=2)
    assert info["n_chunks"] == 3 and info["n_rows"] == t.num_rows
    df = spark.read.parquet(src)
    back = table.read_table(spark, out)
    assert table.verify_roundtrip(df, back, ("conv_id", "turn_idx"))[
        "identical"
    ]
    info2 = table.write_table_direct(spark, files, out, files_per_chunk=2)
    assert info2["reused_chunks"] == 3


def test_commit_lock_blocks_concurrent_writer(spark, tmp_path):
    """A held commit lock makes a second writer fail with
    CommitConflict instead of silently losing the race; a stale lock
    is broken."""
    import time

    from parquet_go_spark.manifest import CommitConflict

    df = make_transcripts_df(spark, n_conv=10, seed=61)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=1)
    lock = os.path.join(out, "_commit.lock")
    with open(lock, "w") as f:
        f.write("424242 held")
    with pytest.raises(CommitConflict):
        manifest.commit(out, manifest.load(out)["entries"],
                        schema_ddl=df.schema.json(), lock_timeout=0.3)
    # stale lock (mtime in the past) is broken and the commit proceeds
    old = time.time() - 10_000
    os.utime(lock, (old, old))
    snap = manifest.commit(out, manifest.load(out)["entries"],
                           schema_ddl=df.schema.json(), lock_timeout=0.3)
    assert snap == manifest.load(out)["snapshot_id"]
    assert not os.path.exists(lock)


def test_schema_evolution_type_widening(spark, tmp_path):
    """Chunks written when a column was int decode under a widened
    bigint schema (read-side safe cast)."""
    import pyspark.sql.functions as F

    v1 = make_transcripts_df(spark, n_conv=20, seed=71)
    out = str(tmp_path / "tbl")
    table.write_table(v1, out, num_chunks=2, chunk_prefix="v1-")
    v2 = make_transcripts_df(spark, n_conv=10, seed=72).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    table.write_table(v2, out, num_chunks=2, chunk_prefix="v2-",
                      append=True)
    back = table.read_table(spark, out)
    assert dict(back.dtypes)["turn_idx"] == "bigint"
    assert back.count() == v1.count() + v2.count()
    assert back.agg(F.sum("turn_idx")).collect()[0][0] == (
        v1.agg(F.sum("turn_idx")).collect()[0][0]
        + v2.agg(F.sum("turn_idx")).collect()[0][0]
    )


def test_token_bloom_text_search(spark, transcripts, tmp_path):
    """Per-chunk token blooms prune chunks for full-text point lookups;
    the residual exact-token filter returns exactly the matching rows."""
    import pyspark.sql.functions as F

    # plant a rare token into two conversations
    df = transcripts.withColumn(
        "text",
        F.when(F.col("conv_id").isin("conv-00000003", "conv-00000011")
               & (F.col("turn_idx") == 0),
               F.concat(F.col("text"), F.lit(" zanzibar")))
        .otherwise(F.col("text")),
    )
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=12,
                      token_bloom_cols=("text",))
    listing = manifest.load(out)
    assert all("token_bloom" in e["columns"]["text"]
               for e in listing["entries"])
    from parquet_go_spark.kernels.bloom import bloom_contains

    pruned = [e for e in listing["entries"]
              if bloom_contains(e["columns"]["text"]["token_bloom"],
                                "zanzibar")]
    assert len(pruned) < listing["n_chunks"]  # most chunks skipped
    got = table.search_text(spark, out, "text", "zanzibar",
                            columns=["conv_id", "turn_idx"])
    rows = {(r["conv_id"], r["turn_idx"]) for r in got.collect()}
    assert rows == {("conv-00000003", 0), ("conv-00000011", 0)}
    # absent token → empty, zero decodes
    assert table.search_text(spark, out, "text", "xylophone").count() == 0


_PRE02_PROBE = "conv-00000005"


def _fake_pre02_table(root, n_chunks=3, sharded=False):
    """Materialize a table whose entries were written by the 0.1 engine
    (row-per-blob chunk layout), with chunk files on disk. By default
    the listing is the 0.1 one too: one flat manifest-<n>.json and a
    _manifest_list.json with a `manifest` key (no manifest_shards, no
    snap files). ``sharded=True`` lists the same entries in the 0.2
    sharded format, so only the chunk-layout gate can reject them.

    The schema is valid, conv_id stats bracket ``_PRE02_PROBE``, and
    the conv_id bloom and text token bloom both miss it: a reader that
    trusts these blooms before the layout gate skips every chunk."""
    import time

    from pyspark.sql.types import StringType, StructField, StructType

    from parquet_go_spark.kernels.bloom import bloom_build, bloom_contains

    miss = bloom_build(["conv-00000001", "conv-00000009"])
    assert not bloom_contains(miss, _PRE02_PROBE)
    schema_ddl = StructType([StructField("conv_id", StringType()),
                             StructField("text", StringType())]).json()
    tdir = str(root)
    cdir = os.path.join(tdir, "chunks")
    mdir = os.path.join(tdir, "_manifests")
    os.makedirs(cdir)
    os.makedirs(mdir)
    entries = []
    for i in range(n_chunks):
        cid = f"{i:06d}"
        fn = f"chunk-{cid}.parquet"
        with open(os.path.join(cdir, fn), "wb") as f:
            f.write(b"PAR1fake")
        entries.append({
            "chunk_id": cid, "file": f"chunks/{fn}", "n_rows": 10,
            "raw_bytes": 100, "enc_bytes": 50,
            "engine": "parquet_go_spark-0.1.0",
            "columns": {
                "conv_id": {"n": 10, "nulls": 0, "crc32": 0,
                            "min": "conv-00000000", "max": "conv-99999999",
                            "bloom": miss},
                "text": {"n": 10, "nulls": 0, "crc32": 0,
                         "token_bloom": miss},
            },
        })
    listing = {
        "snapshot_id": 0, "engine": "parquet_go_spark-0.1.0",
        "schema_ddl": schema_ddl,
        "n_chunks": n_chunks, "n_rows": 10 * n_chunks,
        "raw_bytes": 100 * n_chunks, "enc_bytes": 50 * n_chunks,
        "extra": {}, "parent_snapshot_id": None,
    }
    if sharded:
        mfile = "_manifests/manifest-0-root.json"
        listing["manifest_shards"] = [{
            "shard": "", "file": mfile,
            **manifest._shard_totals(entries),
        }]
        with open(os.path.join(mdir, "snap-0.json"), "w") as f:
            json.dump(listing, f)
    else:
        mfile = "_manifests/manifest-0.json"
        listing["manifest"] = mfile
    with open(os.path.join(tdir, mfile), "w") as f:
        json.dump({"entries": entries}, f)
    with open(os.path.join(tdir, "_manifest_list.json"), "w") as f:
        json.dump(listing, f)
    # commit mtimes in the past so nothing looks "in-flight"
    old = time.time() - 3600
    for p in glob.glob(os.path.join(tdir, "**"), recursive=True):
        os.utime(p, (old, old))
    return tdir


def _tree_state(root):
    """Every path under ``root`` with its bytes and mtime (files) —
    equal before and after means nothing was created, changed or
    deleted."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs:
            out[os.path.join(d, name)] = None
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[p] = (f.read(), os.stat(p).st_mtime_ns)
    return out


def test_expire_never_destroys_pre02_table(spark, tmp_path):
    """A pre-0.2 listing — a single-file manifest, or shard refs
    without per-shard totals — is refused, not read: expire_snapshots,
    read_table, an append and count_rows each raise
    IncompatibleTableError, and none of them creates, changes or
    deletes a single file of the table (expire once deleted every chunk
    of such a table)."""
    flat = _fake_pre02_table(tmp_path / "flat")
    no_totals = _fake_pre02_table(tmp_path / "no-totals", sharded=True)
    lpath = os.path.join(no_totals, "_manifest_list.json")
    with open(lpath) as f:
        listing = json.load(f)
    listing["manifest_shards"] = [{"shard": r["shard"], "file": r["file"]}
                                  for r in listing["manifest_shards"]]
    with open(lpath, "w") as f:
        json.dump(listing, f)
    batch = make_transcripts_df(spark, n_conv=5, seed=1)
    for tdir in (flat, no_totals):
        before = _tree_state(tdir)
        with pytest.raises(manifest.IncompatibleTableError,
                           match="pre-0.2"):
            manifest.expire_snapshots(tdir, keep=2)
        with pytest.raises(manifest.IncompatibleTableError):
            manifest.expire_snapshots(tdir, keep=1, spark=spark)
        with pytest.raises(manifest.IncompatibleTableError):
            table.read_table(spark, tdir)
        with pytest.raises(manifest.IncompatibleTableError):
            table.write_table(batch, tdir, num_chunks=1, append=True)
        with pytest.raises(manifest.IncompatibleTableError):
            table.count_rows(tdir)
        assert _tree_state(tdir) == before


def test_pre02_chunk_layout_is_version_gated(spark, tmp_path):
    """Reading (or compacting/deleting from) a table with 0.1-layout
    chunk files must fail with a clear migration error instead of an
    opaque parquet column error mid-scan. The listing itself is in the
    0.2 format, so this exercises the chunk-layout gate, not the
    listing-format guard. The gate comes before any bloom is trusted:
    pre-0.2 blooms use another hash scheme, so pruning on them first
    would return no rows (search_text) or delete nothing (delete_rows)
    instead of raising."""
    tdir = _fake_pre02_table(tmp_path / "legacy", sharded=True)
    assert table.count_rows(tdir) == 30  # the listing loads fine
    with pytest.raises(manifest.IncompatibleTableError, match="0.2"):
        table.read_table(spark, tdir)
    with pytest.raises(manifest.IncompatibleTableError):
        table.read_table(spark, tdir, predicates={"conv_id": _PRE02_PROBE})
    with pytest.raises(manifest.IncompatibleTableError):
        table.compact(spark, tdir, min_rows=1 << 20)
    with pytest.raises(manifest.IncompatibleTableError):
        table.search_text(spark, tdir, "text", _PRE02_PROBE)
    with pytest.raises(manifest.IncompatibleTableError):
        table.delete_rows(spark, tdir, predicates={"conv_id": _PRE02_PROBE})


def test_expire_protects_inflight_uncommitted_chunks(spark, tmp_path):
    """Chunk files newer than the current snapshot commit belong to an
    in-flight (uncommitted) encode job — expire must not GC them."""
    df = make_transcripts_df(spark, n_conv=20, seed=7)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2)
    # simulate an in-flight writer: a fresh chunk file not in any snapshot
    inflight = os.path.join(out, "chunks", "chunk-zz9999.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1fake")
    res = manifest.expire_snapshots(out, keep=1)
    assert os.path.exists(inflight), res
    # but an OLD orphan (older than the commit) is collectable
    orphan = os.path.join(out, "chunks", "chunk-aa0000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1fake")
    os.utime(orphan, (1, 1))
    res2 = manifest.expire_snapshots(out, keep=1)
    assert not os.path.exists(orphan), res2
    assert table.read_table(spark, out).count() == df.count()


def test_list_struct_shredding_projects_child_bytes(spark, transcripts,
                                                    tmp_path):
    """list<struct> columns (the tool-call transcript shape) are
    shredded through the list wrapper: per-child blobs over the
    flattened elements, so projecting tool_calls.name reads only that
    child's bytes; full-column and child reads both round-trip,
    including null lists and null elements."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    df = transcripts.withColumn(
        "tool_calls",
        F.when(F.col("turn_idx") % 7 == 0, F.lit(None)).otherwise(
            F.slice(
                F.array(
                    F.struct(F.col("tool").alias("name"),
                             F.col("text").alias("args")),
                    F.struct(F.upper("tool").alias("name"),
                             F.substring("text", 1, 8).alias("args")),
                ),
                F.lit(1), (F.col("turn_idx") % 3).cast("int"),
            )
        ),
    ).drop("text")
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=3)
    listing = manifest.load(out)
    meta = listing["entries"][0]["columns"]["tool_calls"]
    assert meta["codec"] == "list_shred"
    assert set(meta["children"]) == {"name", "args"}
    # on-disk layout: the big child (args=text) dominates; shell+name
    # are a small fraction — projecting name skips the args bytes
    f = glob.glob(os.path.join(out, "chunks", "*.parquet"))[0]
    rg = pq.ParquetFile(f).metadata.row_group(0)
    sizes = {rg.column(i).path_in_schema: rg.column(i).total_compressed_size
             for i in range(rg.num_columns)}
    assert "b_tool_calls.args" in sizes and "b_tool_calls.name" in sizes
    assert (sizes["b_tool_calls.name"] + sizes["b_tool_calls"]
            < sizes["b_tool_calls.args"] / 2)
    # full round-trip (Spark set-ops accept array<struct>)
    back = table.read_table(spark, out)
    res = table.verify_roundtrip(df, back, ("conv_id", "turn_idx"))
    assert res["identical"], res
    # flat child projection: array<string> per row
    flat = table.read_table(spark, out,
                            columns=["conv_id", "turn_idx",
                                     "tool_calls.name"])
    want = df.select("conv_id", "turn_idx",
                     F.col("tool_calls.name").alias("tool_calls.name"))
    assert flat.exceptAll(want).count() == 0
    assert want.exceptAll(flat).count() == 0
    # null lists survive (turn_idx % 7 == 0) and empty lists stay []
    got_nulls = flat.filter(F.col("`tool_calls.name`").isNull()).count()
    assert got_nulls == df.filter(F.col("tool_calls").isNull()).count()
    assert got_nulls > 0


def _force_distributed(monkeypatch):
    """Every table op from here on takes the distributed manifest plane
    (the one threshold, lowered to a single chunk)."""
    monkeypatch.setattr(manifest, "DISTRIBUTED_MANIFEST_MIN_CHUNKS", 1)


def test_distributed_commit_matches_driver_commit(spark, tmp_path,
                                                  monkeypatch):
    """Distributed commit: shard files are written by executor tasks
    and the driver commits only O(shards) summaries — the resulting
    snapshot must be indistinguishable from the driver commit path
    (same entries, same decode)."""
    df = make_transcripts_df(spark, n_conv=60, seed=13)
    out_a = str(tmp_path / "driver")
    out_b = str(tmp_path / "dist")
    ia = table.write_table(df, out_a, num_chunks=4)
    _force_distributed(monkeypatch)
    ib = table.write_table(df, out_b, num_chunks=4)
    assert ib["n_chunks"] == ia["n_chunks"]
    assert ib["n_rows"] == ia["n_rows"]
    assert ib["enc_bytes"] == ia["enc_bytes"]
    la, lb = manifest.load(out_a), manifest.load(out_b)
    ka = {e["chunk_id"]: e["data_crc"] for e in la["entries"]}
    kb = {e["chunk_id"]: e["data_crc"] for e in lb["entries"]}
    assert ka == kb
    back = table.read_table(spark, out_b)
    assert table.verify_roundtrip(df, back, ("conv_id", "turn_idx"))[
        "identical"
    ]
    # appends ride the distributed path too (r4): totals stay exact
    before = table.count_rows(out_b)
    table.write_table(df.limit(10), out_b, num_chunks=1,
                      chunk_prefix="x-", append=True)
    assert table.count_rows(out_b) == before + 10


def _synthesize_big_manifest(spark, tmp_path, n_fake=100_000,
                             shard_width=10_000):
    """A table whose manifest claims 100k+ chunks: a handful of REAL
    chunks (written by the engine) plus n_fake synthetic entries whose
    conv_id stats exclude the probe predicate — only shard-task pruning
    can handle this size without materializing entries on the driver."""
    df = make_transcripts_df(spark, n_conv=30, seed=21)
    out = str(tmp_path / "big")
    table.write_table(df, out, num_chunks=2, chunk_prefix="zz-real-")
    listing = manifest.load(out)
    real_entries = listing["entries"]
    import copy
    proto = copy.deepcopy(real_entries[0])
    shards = {}
    for i in range(n_fake):
        e = {
            "chunk_id": f"fk{i:08d}",
            "file": f"chunks/chunk-fk{i:08d}.parquet",  # never opened
            "n_rows": 10, "raw_bytes": 1000, "enc_bytes": 100,
            "data_crc": 1, "engine": proto["engine"],
            "columns": {
                "conv_id": {"n": 10, "nulls": 0, "crc32": 0,
                            # stats range EXCLUDES every real conv id
                            "min": "zzz-a", "max": "zzz-b"},
            },
        }
        shards.setdefault(e["chunk_id"][:-4], []).append(e)
    for e in real_entries:
        shards.setdefault(e["chunk_id"][:-4], []).append(e)
    refs = []
    for shard, ents in sorted(shards.items()):
        fname = f"manifest-9-{shard}.json"
        manifest._atomic_write_json(
            os.path.join(out, "_manifests", fname), {"entries": ents}
        )
        refs.append({"shard": shard,
                     "file": os.path.join("_manifests", fname),
                     **manifest._shard_totals(ents)})
    big = {
        "snapshot_id": 9,
        "engine": manifest.ENGINE_VERSION,
        "schema_ddl": listing["schema_ddl"],
        "manifest_shards": refs,
        **{k: sum(r[k] for r in refs) for k in manifest._TOTALS},
        "extra": listing["extra"], "parent_snapshot_id": None,
    }
    manifest._atomic_write_json(
        os.path.join(out, "_manifests", "snap-9.json"), big
    )
    manifest._atomic_write_json(
        os.path.join(out, "_manifest_list.json"), big
    )
    return out, df


def test_distributed_read_never_materializes_entries(spark, tmp_path,
                                                     monkeypatch):
    """Above DISTRIBUTED_MANIFEST_MIN_CHUNKS, read_table must prune
    inside shard tasks: a 100k-chunk manifest is scanned without the
    driver ever calling manifest.load / _read_entries, and stats
    pruning drops every fake chunk before any file is opened."""
    out, df = _synthesize_big_manifest(spark, tmp_path)

    def boom(*a, **k):
        raise AssertionError("driver materialized manifest entries")

    monkeypatch.setattr(manifest, "_read_entries", boom)
    monkeypatch.setattr(manifest, "load", boom)
    # predicate overlaps only the REAL chunks (fake stats are zzz-*)
    got = table.read_table(
        spark, out, predicates={"conv_id": (None, "conv-99999999")}
    )
    assert got.count() == df.count()
    monkeypatch.undo()

    # count_rows answers from the listing totals alone
    monkeypatch.setattr(manifest, "_read_entries", boom)
    assert table.count_rows(out) == 100_000 * 10 + df.count()


def test_distributed_column_stats_matches_driver(spark, tmp_path):
    """column_stats with a SparkSession computes shard partials in
    tasks; the merged result must equal the driver walk."""
    out, df = _synthesize_big_manifest(spark, tmp_path, n_fake=20_000)
    via_driver = table.column_stats(out, "conv_id")
    via_tasks = table.column_stats(out, "conv_id", spark=spark)
    assert via_tasks == via_driver
    assert via_tasks["count"] == 20_000 * 10 + df.count()


def test_one_full_shard_stays_on_the_driver_plane(spark, tmp_path,
                                                  monkeypatch, spark_jobs):
    """The plane rule: a table that fits in one manifest shard (10,000
    unprefixed chunk ids, copied from a real conv_id-bloom table) never
    takes the task plane, so column_stats and a point read of an absent
    key run no Spark job, with the forced task plane's answers."""
    from parquet_go_spark.decode import prune_entries
    from parquet_go_spark.encode import make_chunk_id

    real = str(tmp_path / "real")
    table.write_table(make_transcripts_df(spark, n_conv=60, seed=23), real,
                      num_chunks=4, bloom_cols=("conv_id",))
    listing = manifest.load(real)
    src = listing["entries"]
    # a key no chunk holds: stats and blooms prune every chunk, so no
    # chunk file is needed
    absent = next(k for k in (f"conv-{i:08d}x" for i in range(30, 60))
                  if not prune_entries(src, {"conv_id": k}))
    entries = [{**src[i % len(src)], "chunk_id": make_chunk_id("", i),
                "file": f"chunks/chunk-{make_chunk_id('', i)}.parquet"}
               for i in range(10_000)]
    out = str(tmp_path / "tbl")
    manifest.commit(out, entries, listing["schema_ddl"],
                    extra=listing["extra"])
    assert len(manifest.load_refs(out)["manifest_shards"]) == 1

    def answers():
        stats = table.column_stats(out, "conv_id", spark=spark)
        rows = table.read_table(spark, out,
                                predicates={"conv_id": absent}).toArrow()
        return stats, rows.schema, rows.num_rows

    on_driver, jobs = spark_jobs(answers)
    assert jobs == []
    assert on_driver[0]["count"] == sum(e["n_rows"] for e in entries)
    assert on_driver[2] == 0
    _force_distributed(monkeypatch)
    on_tasks, jobs = spark_jobs(answers)
    assert jobs
    assert on_tasks == on_driver


def test_direct_path_distributed_commit(spark, tmp_path, monkeypatch):
    """write_table_direct on the distributed plane: shard files written
    by tasks, snapshot equivalent to the driver commit, round-trip
    intact."""
    import pyarrow.parquet as pq

    from parquet_go_spark.fixtures import make_transcripts

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = make_transcripts(100, seed=9)
    step = (t.num_rows + 3) // 4
    for i in range(0, t.num_rows, step):
        pq.write_table(t.slice(i, step), f"{src}/f{i//step}.parquet")
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    ia = table.write_table_direct(spark, files, out_a)
    _force_distributed(monkeypatch)
    ib = table.write_table_direct(spark, files, out_b)
    assert (ia["n_chunks"], ia["n_rows"], ia["enc_bytes"]) == \
        (ib["n_chunks"], ib["n_rows"], ib["enc_bytes"])
    la, lb = manifest.load(out_a), manifest.load(out_b)
    assert {e["chunk_id"]: e["data_crc"] for e in la["entries"]} == \
        {e["chunk_id"]: e["data_crc"] for e in lb["entries"]}
    df = spark.read.parquet(src)
    back = table.read_table(spark, out_b)
    assert table.verify_roundtrip(df, back, ("conv_id", "turn_idx"))[
        "identical"
    ]


def test_append_commit_reads_only_touched_shards(spark, tmp_path,
                                                 monkeypatch):
    """Streaming micro-batch commits must be O(batch) on the READ side
    too: an append that touches one shard namespace reads only that
    shard's parent file; untouched shards carry file + per-shard totals
    forward from the refs."""
    df = make_transcripts_df(spark, n_conv=40, seed=31)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2, chunk_prefix="aa-")
    table.write_table(df.limit(60), out, num_chunks=1, chunk_prefix="bb-",
                      append=True)
    l1 = manifest.load(out)
    assert {r["shard"] for r in l1["manifest_shards"]} == {"aa-00", "bb-00"}
    assert all("n_rows" in r for r in l1["manifest_shards"])

    read_files = []
    orig = manifest._read_shard

    def spy(table_dir, ref):
        read_files.append(ref["file"])
        return orig(table_dir, ref)

    monkeypatch.setattr(manifest, "_read_shard", spy)
    table.write_table(df.limit(25), out, num_chunks=1, chunk_prefix="bb-",
                      append=True)
    assert read_files and all("-bb-00" in f for f in read_files), \
        read_files  # aa- untouched
    l2 = manifest.load(out)
    # totals correct without any full-table materialization at commit
    # the second bb- append reuses chunk id bb-000000 → same-id
    # override replaces the 60-row chunk with the 25-row one
    assert l2["n_rows"] == df.count() + 25
    back = table.read_table(spark, out)
    assert back.count() == l2["n_rows"]


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two appenders racing the commit lock must serialize: both
    batches' chunks appear in the final snapshot (no lost-entry merge)
    and the decoded table holds every row."""
    import threading

    df = make_transcripts_df(spark, n_conv=30, seed=61)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2, chunk_prefix="base-")
    n0 = df.count()

    # build two disjoint batches via distinct conv prefixes
    import pyspark.sql.functions as F
    b1 = make_transcripts_df(spark, n_conv=10, seed=71) \
        .withColumn("conv_id", F.concat(F.lit("x1-"), F.col("conv_id")))
    b2 = make_transcripts_df(spark, n_conv=10, seed=72) \
        .withColumn("conv_id", F.concat(F.lit("x2-"), F.col("conv_id")))
    errs = []

    def appender(bdf, prefix):
        try:
            table.write_table(bdf, out, num_chunks=1,
                              chunk_prefix=prefix, append=True)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    t1 = threading.Thread(target=appender, args=(b1, "x1-"))
    t2 = threading.Thread(target=appender, args=(b2, "x2-"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    listing = manifest.load(out)
    prefixes = {e["chunk_id"].split("-")[0] for e in listing["entries"]}
    assert prefixes == {"base", "x1", "x2"}
    assert listing["n_rows"] == n0 + b1.count() + b2.count()
    assert table.read_table(spark, out).count() == listing["n_rows"]


def test_upsert_guard_rejects_full_table_rewrite(spark, transcripts,
                                                 tmp_path, monkeypatch):
    """An upsert whose touched-chunk set exceeds
    UPSERT_MAX_TOUCHED_CHUNKS is a de-facto full-table rewrite — the
    O(batch) driver contract no longer holds and the op must refuse
    with a pointer to write_table()/compact() instead of silently
    collecting an O(table) chunk set on the driver."""
    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=4)
    patch = transcripts.limit(50).withColumn(
        "text", __import__("pyspark").sql.functions.lit("rewritten"))
    monkeypatch.setattr(table, "UPSERT_MAX_TOUCHED_CHUNKS", 1)
    with pytest.raises(ValueError, match="UPSERT_MAX_TOUCHED_CHUNKS"):
        table.upsert_table(spark, out, patch)
    monkeypatch.undo()
    res = table.upsert_table(spark, out, patch)
    assert res["upserted_rows"] == 50


def test_inflight_marker_protects_chunks_from_gc(spark, tmp_path):
    """begin_inflight's marker protects a long-running encode's chunk
    files even when they are OLDER than a later writer's commit (the
    race the mtime-vs-last-commit heuristic missed); ending the job
    releases them, and a crashed job's marker expires after
    INFLIGHT_TTL_S."""
    import time

    df = make_transcripts_df(spark, n_conv=20, seed=77)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2)
    # long-running job: marker FIRST, then its chunk file, then another
    # writer commits (bumping _manifest_list.json's mtime past both)
    marker = manifest.begin_inflight(out)
    t_marker = time.time() - 1800  # long-running but within INFLIGHT_TTL_S
    # simulate a job that STARTED 30 min ago: the GC floor reads the
    # marker's JSON "start" stamp (mtime is only liveness)
    with open(marker, "w") as f:
        json.dump({"pid": 1, "start": t_marker}, f)
    os.utime(marker, (t_marker, t_marker))
    slow_chunk = os.path.join(out, "chunks", "chunk-slowjob.parquet")
    with open(slow_chunk, "wb") as f:
        f.write(b"PAR1fake")
    os.utime(slow_chunk, (t_marker + 100, t_marker + 100))
    table.write_table(df.limit(10), out, num_chunks=1,
                      chunk_prefix="later-", append=True)
    res = manifest.expire_snapshots(out, keep=1)
    assert os.path.exists(slow_chunk), res  # marker floor protected it
    # job finishes (without committing that chunk) → GC may collect
    manifest.end_inflight(marker)
    res2 = manifest.expire_snapshots(out, keep=1)
    assert not os.path.exists(slow_chunk), res2
    # a crashed job's marker older than the TTL stops protecting and
    # is swept by the next expire
    marker2 = manifest.begin_inflight(out)
    t_dead = time.time() - manifest.INFLIGHT_TTL_S - 60
    os.utime(marker2, (t_dead, t_dead))
    orphan = os.path.join(out, "chunks", "chunk-deadjob.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1fake")
    os.utime(orphan, (t_dead + 10, t_dead + 10))
    res3 = manifest.expire_snapshots(out, keep=1)
    assert not os.path.exists(orphan), res3
    assert not os.path.exists(marker2)
    assert table.read_table(spark, out).count() == df.count() + 10


def test_inflight_heartbeat_outlives_ttl(spark, tmp_path):
    """A job running LONGER than INFLIGHT_TTL_S keeps GC protection as
    long as it heartbeats: liveness is the marker's mtime (refreshed by
    heartbeat_inflight), the GC floor is the immutable JSON "start"
    stamp — so chunks written hours ago by the still-live job survive a
    concurrent expire even after another writer commits (ADVICE r4)."""
    import time

    df = make_transcripts_df(spark, n_conv=20, seed=78)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2)
    marker = manifest.begin_inflight(out)
    t_start = time.time() - manifest.INFLIGHT_TTL_S - 600  # >1h-old job
    with open(marker, "w") as f:
        json.dump({"pid": 1, "start": t_start}, f)
    manifest.heartbeat_inflight(marker)  # fresh mtime = live
    old_chunk = os.path.join(out, "chunks", "chunk-marathon.parquet")
    with open(old_chunk, "wb") as f:
        f.write(b"PAR1fake")
    os.utime(old_chunk, (t_start + 10, t_start + 10))
    # another writer commits, bumping the last-commit floor past t_start
    table.write_table(df.limit(5), out, num_chunks=1,
                      chunk_prefix="later2-", append=True)
    res = manifest.expire_snapshots(out, keep=1)
    assert os.path.exists(old_chunk), res  # start-stamp floor held
    # heartbeat refreshes mtime but never the floor
    m_before = os.path.getmtime(marker)
    os.utime(marker, (m_before - 30, m_before - 30))
    manifest.heartbeat_inflight(marker)
    assert os.path.getmtime(marker) > m_before - 30
    assert manifest._inflight_floor(out) == pytest.approx(t_start)
    manifest.end_inflight(marker)
    res2 = manifest.expire_snapshots(out, keep=1)
    assert not os.path.exists(old_chunk), res2


def test_expire_spares_pending_shard_manifests(spark, tmp_path):
    """The task-plane commit (manifest.commit_in_tasks: shard write and
    APPEND merge) writes manifest-* shard files into _manifests/ BEFORE
    taking the commit lock; a concurrent expire must spare them via the
    GC floor exactly like uncommitted chunk files, else the commit lands referencing
    deleted shards (ADVICE r4 medium). Crashed attempts' orphans (no
    live marker, mtime below the floor) are still swept."""
    import time

    df = make_transcripts_df(spark, n_conv=20, seed=79)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2)
    table.write_table(df.limit(5), out, num_chunks=1,
                      chunk_prefix="x-", append=True)
    mdir = os.path.join(out, "_manifests")
    # a racing encode: marker live, pending shard written pre-commit
    marker = manifest.begin_inflight(out)
    pending = os.path.join(mdir, "manifest-pending1-root.json")
    with open(pending, "w") as f:
        json.dump({"entries": []}, f)
    res = manifest.expire_snapshots(out, keep=1)
    assert os.path.exists(pending), res
    manifest.end_inflight(marker)
    # crashed attempt: shard older than the last-commit floor, no marker
    t_old = time.time() - 7200
    os.utime(pending, (t_old, t_old))
    res2 = manifest.expire_snapshots(out, keep=1)
    assert not os.path.exists(pending), res2
    assert table.read_table(spark, out).count() == df.count() + 5


def test_commit_lock_timeout_enforced_under_churn(tmp_path):
    """A vanishing/reappearing lock (churn) must still honor the
    caller's timeout instead of busy-spinning forever (ADVICE r3: the
    OSError-retry path skipped the deadline check)."""
    import threading
    import time

    tdir = str(tmp_path / "tbl")
    os.makedirs(tdir)
    lock = os.path.join(tdir, "_commit.lock")
    stop = threading.Event()

    def churn():
        while not stop.is_set():
            with open(lock, "w") as f:
                f.write("churn")
            time.sleep(0.002)

    with open(lock, "w") as f:
        f.write("held")
    t = threading.Thread(target=churn, daemon=True)
    t.start()
    t0 = time.monotonic()
    try:
        with pytest.raises(manifest.CommitConflict):
            manifest._acquire_commit_lock(tdir, timeout=0.5)
    finally:
        stop.set()
        t.join()
    elapsed = time.monotonic() - t0
    assert elapsed < 5.0, elapsed


def test_distributed_append_matches_driver_append(spark, tmp_path,
                                                  monkeypatch):
    """The distributed append commit must produce a snapshot identical
    to the driver merge: same-id overrides, untouched shards carried
    forward, new shard namespaces added."""
    df = make_transcripts_df(spark, n_conv=40, seed=91)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    for out in (out_a, out_b):
        table.write_table(df, out, num_chunks=2, chunk_prefix="aa-")
    batch, fresh = df.limit(100), df.limit(30)
    for out in (out_a, out_b):
        if out == out_b:  # driver merge first, then the task merge
            _force_distributed(monkeypatch)
        table.write_table(batch, out, num_chunks=2, chunk_prefix="aa-",
                          append=True)
        table.write_table(fresh, out, num_chunks=1, chunk_prefix="bb-",
                          append=True)
    monkeypatch.undo()
    la, lb = manifest.load(out_a), manifest.load(out_b)
    assert {e["chunk_id"]: e["data_crc"] for e in la["entries"]} == \
        {e["chunk_id"]: e["data_crc"] for e in lb["entries"]}
    assert (la["n_rows"], la["n_chunks"]) == (lb["n_rows"], lb["n_chunks"])
    assert table.read_table(spark, out_b).count() == lb["n_rows"]


def test_distributed_append_never_materializes_entries(spark, tmp_path,
                                                       monkeypatch):
    """An append onto a 100k-chunk table must stay O(batch)+O(shards)
    on the driver: shard merges run inside tasks and
    manifest.load / _read_entries are never called."""
    out, df = _synthesize_big_manifest(spark, tmp_path)
    batch = make_transcripts_df(spark, n_conv=10, seed=5)
    n_batch = batch.count()
    monkeypatch.setattr(manifest, "DISTRIBUTED_MANIFEST_MIN_CHUNKS", 4)

    def boom(*a, **k):
        raise AssertionError("driver materialized manifest entries")

    monkeypatch.setattr(manifest, "_read_entries", boom)
    monkeypatch.setattr(manifest, "load", boom)
    res = table.write_table(batch, out, num_chunks=8, chunk_prefix="ap-",
                            append=True)
    assert res["n_chunks"] >= 1
    # listing totals are incremental sums over refs — no entry walks
    assert table.count_rows(out) == 100_000 * 10 + df.count() + n_batch
    got = table.read_table(
        spark, out, predicates={"conv_id": (None, "conv-99999999")}
    )
    assert got.count() == df.count() + n_batch
    # idempotent replay: same batch, same ids — byte-identical snapshot
    res2 = table.write_table(batch, out, num_chunks=8, chunk_prefix="ap-",
                             append=True)
    assert table.count_rows(out) == 100_000 * 10 + df.count() + n_batch


def test_distributed_expire_never_materializes_entries(spark, tmp_path,
                                                       monkeypatch):
    """expire_snapshots(spark=...) on a big table: keep-sets built from
    shard files inside tasks, chunks dir anti-joined executor-side; the
    driver handles only refs and the unlink list. GC'd: an old orphan;
    kept: every referenced chunk; expired: the superseded snapshot."""
    out, df = _synthesize_big_manifest(spark, tmp_path, n_fake=20_000)
    n_orphans = 2_000  # mass-crash shape: many uncommitted leftovers
    for i in range(n_orphans):
        orphan = os.path.join(out, "chunks", f"chunk-orphan{i}.parquet")
        with open(orphan, "wb") as f:
            f.write(b"PAR1fake")
        os.utime(orphan, (1, 1))

    def boom(*a, **k):
        raise AssertionError("driver materialized manifest entries")

    monkeypatch.setattr(manifest, "_read_entries", boom)
    monkeypatch.setattr(manifest, "load", boom)
    # the orphan unlink must happen INSIDE tasks (r4 VERDICT item 5):
    # worker processes don't see this monkeypatch, so any driver-side
    # unlink of a chunk file trips it (manifest/lock unlinks are fine)
    real_unlink = os.unlink

    def guarded_unlink(path, *a, **k):
        if os.sep + "chunks" + os.sep in str(path):
            raise AssertionError(f"driver-side chunk unlink: {path}")
        return real_unlink(path, *a, **k)

    monkeypatch.setattr(manifest.os, "unlink", guarded_unlink)
    res = manifest.expire_snapshots(out, keep=1, spark=spark)
    assert res["deleted_chunks"] == n_orphans, res
    assert not os.path.exists(
        os.path.join(out, "chunks", "chunk-orphan0.parquet"))
    assert res["expired_snapshots"] >= 1  # snap-0 superseded by snap-9
    monkeypatch.undo()
    got = table.read_table(
        spark, out, predicates={"conv_id": (None, "conv-99999999")}
    )
    assert got.count() == df.count()


def test_map_shredding_projects_key_bytes(spark, transcripts, tmp_path):
    """map<string,V> columns shred per KEY (SURVEY §1.2 MAP row): the
    shell keeps offsets + the dict-coded key stream, one value blob per
    distinct key — read_table(columns=["attrs.k"]) reads only that
    key's value bytes. Full-column and key reads both round-trip,
    incl. null maps; semantics match Spark's element_at."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    df = transcripts.withColumn(
        "attrs",
        F.when(F.col("turn_idx") % 7 == 0, F.lit(None)).otherwise(
            F.create_map(
                F.lit("role"), F.col("role"),
                F.lit("payload"), F.col("text"),
            )
        ),
    ).drop("text")
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=3)
    listing = manifest.load(out)
    meta = listing["entries"][0]["columns"]["attrs"]
    assert meta["codec"] == "map_shred"
    assert set(meta["children"]) == {"role", "payload"}
    # on-disk: payload (=text) dominates; shell+role are a small
    # fraction — projecting attrs.role skips the payload bytes
    f = glob.glob(os.path.join(out, "chunks", "*.parquet"))[0]
    rg = pq.ParquetFile(f).metadata.row_group(0)
    sizes = {rg.column(i).path_in_schema: rg.column(i).total_compressed_size
             for i in range(rg.num_columns)}
    assert (sizes["b_attrs.role"] + sizes["b_attrs"]
            < sizes["b_attrs.payload"] / 2)
    # full round-trip (set-ops reject MAP — compare via map_entries)
    back = table.read_table(spark, out)
    flat = lambda d: d.withColumn("attrs", F.map_entries("attrs"))  # noqa: E731
    res = table.verify_roundtrip(flat(df), flat(back),
                                 ("conv_id", "turn_idx"))
    assert res["identical"], res
    # key projection: one flat column, element_at parity
    proj = table.read_table(spark, out,
                            columns=["conv_id", "turn_idx", "attrs.role"])
    want = df.select(
        "conv_id", "turn_idx",
        F.element_at("attrs", F.lit("role")).alias("attrs.role"),
    )
    assert proj.exceptAll(want).count() == 0
    assert want.exceptAll(proj).count() == 0
    got_nulls = proj.filter(F.col("`attrs.role`").isNull()).count()
    assert got_nulls == df.filter(F.col("attrs").isNull()).count()
    assert got_nulls > 0


def test_search_text_detects_replaced_chunk(spark, tmp_path, decode_site):
    """Every decode checks each chunk file against its manifest entry,
    not only read_table's: a chunk file replaced by another table's
    chunk with the same id fails search_text too, instead of returning
    the other table's rows, on both decode sites."""
    import shutil

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    table.write_table(make_transcripts_df(spark, n_conv=30, seed=3), out_a,
                      num_chunks=2)
    table.write_table(make_transcripts_df(spark, n_conv=30, seed=4), out_b,
                      num_chunks=2)
    name = os.path.basename(manifest.load(out_a)["entries"][0]["file"])
    shutil.copyfile(os.path.join(out_b, "chunks", name),
                    os.path.join(out_a, "chunks", name))
    for site in ("job", "driver"):
        decode_site(site)
        with pytest.raises(Exception,
                           match="rewritten after this snapshot"):
            table.read_table(spark, out_a).count()
        with pytest.raises(Exception,
                           match="rewritten after this snapshot"):
            table.search_text(spark, out_a, "text", "the").collect()


def test_direct_write_picks_plane_from_chunk_count(spark, tmp_path,
                                                  monkeypatch):
    """write_table_direct passes its chunk count (one chunk per input
    file here) to the plane test, so at the threshold it commits
    through the shard-writing task plane, not manifest.commit on the
    driver."""
    import pyarrow.parquet as pq

    from parquet_go_spark.fixtures import make_transcripts

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = make_transcripts(40, seed=17)
    step = (t.num_rows + 2) // 3
    for i in range(0, t.num_rows, step):
        pq.write_table(t.slice(i, step), f"{src}/f{i//step}.parquet")
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    assert len(files) == 3
    _force_distributed(monkeypatch)

    def boom(*a, **k):
        raise AssertionError("direct write committed on the driver")

    monkeypatch.setattr(manifest, "commit", boom)
    out = str(tmp_path / "tbl")
    info = table.write_table_direct(spark, files, out)
    assert info["n_chunks"] == 3
    back = table.read_table(spark, out)
    assert table.verify_roundtrip(spark.read.parquet(src), back,
                                  ("conv_id", "turn_idx"))["identical"]


def test_direct_path_rejects_empty_input(spark, tmp_path):
    """An empty input list is a clean ValueError naming it, and nothing
    is committed."""
    out = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="input_files is empty"):
        table.write_table_direct(spark, [], out)
    assert not os.path.exists(os.path.join(out, "_manifest_list.json"))


def test_task_plane_readers_match_driver_plane(spark, transcripts, tmp_path,
                                               monkeypatch):
    """search_text, column_stats and a bloom-pruned point read give the
    same answers on the task plane (manifest.scan_shards) as on the
    driver plane, and the task plane never loads the entries on the
    driver."""
    import pyspark.sql.functions as F

    df = transcripts.withColumn(
        "text",
        F.when((F.col("conv_id") == "conv-00000003")
               & (F.col("turn_idx") == 0),
               F.concat(F.col("text"), F.lit(" zanzibar")))
        .otherwise(F.col("text")),
    )
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=12, token_bloom_cols=("text",),
                      bloom_cols=("conv_id",))

    def results():
        found = table.search_text(spark, out, "text", "zanzibar",
                                  columns=["conv_id", "turn_idx"])
        stats = {c: table.column_stats(out, c, spark=spark)
                 for c in ("conv_id", "turn_idx", "ts")}
        point = table.read_table(spark, out,
                                 predicates={"conv_id": "conv-00000007"})
        return sorted(found.collect()), stats, sorted(point.collect())

    on_driver = results()
    assert on_driver[0] == [("conv-00000003", 0)]
    assert on_driver[2]
    _force_distributed(monkeypatch)

    def boom(*a, **k):
        raise AssertionError("driver materialized manifest entries")

    monkeypatch.setattr(manifest, "load", boom)
    assert results() == on_driver


def test_task_plane_jobs_stage_no_rdd(spark, tmp_path, monkeypatch):
    """Driver-held task-plane input reaches the tasks as Arrow the JVM
    reads (manifest._rows_df): the input plans of a read, a
    column_stats and an expire_snapshots scan no RDD, which here would
    be a Python RDD unpickling each row in a Python session first."""
    df = make_transcripts_df(spark, n_conv=60, seed=17)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=4)
    table.write_table(df, out, num_chunks=4)
    _force_distributed(monkeypatch)
    plans = []

    def spy(orig):
        def run(input_df, *a, **k):
            plans.append(input_df._jdf.queryExecution().toString())
            return orig(input_df, *a, **k)
        return run

    monkeypatch.setattr(manifest, "_run_tasks", spy(manifest._run_tasks))
    monkeypatch.setattr(table, "_decode_df", spy(table._decode_df))
    ops = {"read": lambda: table.read_table(spark, out).count(),
           "column_stats": lambda: table.column_stats(out, "turn_idx",
                                                      spark=spark),
           "expire": lambda: manifest.expire_snapshots(out, keep=1,
                                                       spark=spark)}
    for name, op in ops.items():
        plans.clear()
        op()
        assert plans, name
        for plan in plans:
            assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, \
                (name, plan)


@pytest.mark.parametrize("op", ["compact", "delete_rows", "upsert_table"])
def test_rewrite_op_refuses_to_drop_a_concurrent_append(spark, tmp_path,
                                                        monkeypatch, op):
    """compact, delete_rows and upsert_table commit keep + rewritten
    with append=False: an append landing between their listing read and
    their commit must make them raise CommitConflict (nothing dropped,
    nothing unlinked), not vanish from the table."""
    df = make_transcripts_df(spark, n_conv=30, seed=41)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=4)
    n0 = df.count()
    batch = make_transcripts_df(spark, n_conv=8, seed=43)
    orig = table._encode_entries

    def encode_then_race(*a, **k):
        res = orig(*a, **k)
        table.write_table(batch, out, num_chunks=1, chunk_prefix="race-",
                          append=True)
        return res

    monkeypatch.setattr(table, "_encode_entries", encode_then_race)
    with pytest.raises(manifest.CommitConflict):
        if op == "compact":
            table.compact(spark, out)
        elif op == "delete_rows":
            table.delete_rows(spark, out, {"conv_id": ("conv-00000001",
                                                       "conv-00000004")})
        else:
            table.upsert_table(spark, out, df.limit(5))
    monkeypatch.undo()
    want = n0 + batch.count()
    assert table.count_rows(out) == want
    assert table.read_table(spark, out).count() == want


def _rewrite_table(spark, out: str, op: str):
    """A bloom-indexed table for ``op`` (compact needs small prefixed
    chunks, upsert a uniformly hash-chunked table) and the op's call."""
    import pyspark.sql.functions as F

    df = make_transcripts_df(spark, n_conv=40, seed=53)
    target = "conv-00000007"
    if op == "compact":
        first = F.col("conv_id") < "conv-00000020"
        for prefix, part in (("a-", first), ("b-", ~first)):
            table.write_table(df.filter(part), out, num_chunks=3,
                              chunk_prefix=prefix, append=True,
                              bloom_cols=("conv_id",))
        return target, lambda: table.compact(spark, out, min_rows=10**6)
    table.write_table(df, out, num_chunks=4, bloom_cols=("conv_id",))
    if op == "delete_rows":
        return target, lambda: table.delete_rows(spark, out,
                                                 {"conv_id": target})
    fix = df.filter(F.col("conv_id") == target) \
        .withColumn("text", F.lit("x y"))
    return target, lambda: table.upsert_table(spark, out, fix)


@pytest.mark.parametrize("op", ["compact", "delete_rows", "upsert_table"])
def test_rewrite_op_crash_before_commit_keeps_snapshot(spark, tmp_path,
                                                       monkeypatch, op):
    """A rewrite that dies after its re-encode and before its commit
    leaves the current snapshot reading the same rows, by a full count
    and by a bloom lookup: its new chunk files overwrite no file a
    snapshot references. A retry then lands the op once."""
    out = str(tmp_path / "tbl")
    target, run = _rewrite_table(spark, out, op)

    def lookup():
        return sorted(table.read_table(
            spark, out, predicates={"conv_id": target},
            push_row_filter=True).collect())

    n0, rows0 = table.read_table(spark, out).count(), lookup()
    snap0 = manifest.load_refs(out)["snapshot_id"]

    def crash(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(manifest, "commit", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        run()
    monkeypatch.undo()
    assert manifest.load_refs(out)["snapshot_id"] == snap0
    assert table.read_table(spark, out).count() == n0
    assert lookup() == rows0 and rows0

    res = run()
    assert res["snapshot_id"] == manifest.load_refs(out)["snapshot_id"] \
        == snap0 + 1
    want = n0 - len(rows0) if op == "delete_rows" else n0
    assert table.count_rows(out) == table.read_table(spark, out).count() \
        == want
    after = lookup()
    if op == "delete_rows":
        assert after == []
    elif op == "upsert_table":
        assert len(after) == len(rows0)
        assert {r["text"] for r in after} == {"x y"}
    else:
        assert after == rows0


@pytest.mark.parametrize("op", ["compact", "delete_rows", "upsert_table"])
def test_rewrite_op_noop_commits_nothing(spark, transcripts, tmp_path,
                                         spark_jobs, op):
    """A rewrite op with nothing to do (an empty upsert batch among
    them) leaves the snapshot where it was, runs no Spark job beyond
    one grouped-count collect of the batch, and returns the current
    ``snapshot_id``, as every rewrite op's result does."""
    out = str(tmp_path / "tbl")
    table.write_table(transcripts, out, num_chunks=16)
    batch = transcripts.limit(0)
    res, jobs = spark_jobs({
        "compact": lambda: table.compact(spark, out, min_rows=1),
        "delete_rows": lambda: table.delete_rows(spark, out,
                                                 {"conv_id": "zz-none"}),
        "upsert_table": lambda: table.upsert_table(spark, out, batch),
    }[op])
    touched = {"compact": "compacted_chunks", "delete_rows":
               "rewritten_chunks", "upsert_table": "rewritten_chunks"}[op]
    assert res[touched] == res.get("upserted_rows", 0) == 0
    assert res["snapshot_id"] == manifest.load_refs(out)["snapshot_id"] == 0
    _, one_collect = spark_jobs(
        lambda: batch.groupBy("conv_id").count().collect())
    assert len(jobs) <= len(one_collect), (jobs, one_collect)


@pytest.mark.parametrize("op", ["upsert_table", "delete_rows", "compact"])
def test_rewrite_encode_runs_one_wave(spark, tmp_path, monkeypatch,
                                      spark_jobs, op):
    """A rewrite decodes on read_table's site and stages its re-encode
    by write_table's rule, sized from the manifest row count of the
    chunks it touches (plus upsert's batch). At local[4] on a 64-chunk
    table no stage of it runs one task per table chunk, its encode
    stage (the result stage of the re-encode's collect job) runs at
    most defaultParallelism tasks, and its small decode runs no Spark
    job. Staging one task per table chunk, a one-conversation upsert
    ran a 64-task encode stage whose tasks but one got no rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from parquet_go_spark.fixtures import make_transcripts

    tbl = make_transcripts(600, seed=5)
    out = str(tmp_path / "tbl")
    table.write_table(spark.createDataFrame(tbl, table.TRANSCRIPT_DDL), out,
                      num_chunks=64, bloom_cols=("conv_id",))
    target = "conv-00000042"
    fix = tbl.filter(pc.equal(tbl["conv_id"], target))
    fix = fix.set_column(fix.schema.get_field_index("text"), "text",
                         pa.array(["fixed"] * fix.num_rows))
    run = {
        "upsert_table": lambda: table.upsert_table(
            spark, out, spark.createDataFrame(fix, table.TRANSCRIPT_DDL)),
        "delete_rows": lambda: table.delete_rows(spark, out,
                                                 {"conv_id": target}),
        "compact": lambda: table.compact(spark, out, min_rows=1 << 30,
                                         rows_per_chunk=tbl.num_rows // 12),
    }[op]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    encode_jobs, decode_jobs = [], []
    orig_encode, orig_decode = table._encode_entries, table._decode_df

    def encode_in_own_group(*a, **k):
        group = sc.getLocalProperty("spark.jobGroup.id")
        res, jobs = spark_jobs(lambda: orig_encode(*a, **k))
        encode_jobs.extend(jobs)
        sc.setJobGroup(group, group)
        return res

    def decode_job(*a, **k):
        decode_jobs.append(1)
        return orig_decode(*a, **k)

    monkeypatch.setattr(table, "_encode_entries", encode_in_own_group)
    monkeypatch.setattr(table, "_decode_df", decode_job)
    res, jobs = spark_jobs(run)
    assert res["snapshot_id"] == 1 and encode_jobs
    stages = {s for j in [*jobs, *encode_jobs]
              for s in tracker.getJobInfo(j).stageIds}
    tasks = {s: tracker.getStageInfo(s).numTasks for s in stages}
    encode_stage = max(tracker.getJobInfo(max(encode_jobs)).stageIds)
    assert tasks[encode_stage] <= sc.defaultParallelism, tasks
    assert max(tasks.values()) < 64, tasks
    assert not decode_jobs


def test_task_plane_resume_reports_reused_chunks(spark, tmp_path,
                                                 monkeypatch):
    """A resume rerun on the task plane reuses every chunk file and says
    so in its commit info, as the driver plane does."""
    df = make_transcripts_df(spark, n_conv=40, seed=47)
    for plane in ("driver", "task"):
        if plane == "task":
            _force_distributed(monkeypatch)
        out = str(tmp_path / plane)
        first = table.write_table(df, out, num_chunks=4)
        again = table.write_table(df, out, num_chunks=4)
        assert first["reused_chunks"] == 0, plane
        assert again["reused_chunks"] == again["n_chunks"] == \
            first["n_chunks"], plane


def test_task_plane_append_remerges_on_stale_parent(spark, tmp_path,
                                                    monkeypatch):
    """A commit landing between a task-plane append's shard merge and
    its commit_shards call is not lost: the stale commit is refused and
    the append re-merges against the new parent, so both batches land
    in the shard they share with the table."""
    import pyspark.sql.functions as F

    df = make_transcripts_df(spark, n_conv=30, seed=53)
    out = str(tmp_path / "tbl")
    table.write_table(df, out, num_chunks=2, chunk_prefix="aa-")
    mine = make_transcripts_df(spark, n_conv=6, seed=54)
    theirs = make_transcripts_df(spark, n_conv=5, seed=55)
    _force_distributed(monkeypatch)
    orig = manifest.commit_shards
    calls = []

    def race_first_append_commit(*a, **k):
        calls.append(k.get("expect_parent"))
        if len(calls) == 1:  # the other writer lands first
            table.write_table(theirs, out, num_chunks=8, chunk_prefix="aa-",
                              chunk_expr=F.lit(5), append=True)
        return orig(*a, **k)

    monkeypatch.setattr(manifest, "commit_shards", race_first_append_commit)
    table.write_table(mine, out, num_chunks=8, chunk_prefix="aa-",
                      chunk_expr=F.lit(6), append=True)
    monkeypatch.undo()
    assert len(calls) == 3  # ours, theirs, our re-merged retry
    ids = {e["chunk_id"] for e in manifest.load(out)["entries"]}
    assert {"aa-000005", "aa-000006"} <= ids
    want = df.count() + mine.count() + theirs.count()
    assert table.count_rows(out) == want
    assert table.read_table(spark, out).count() == want


def test_shard_refs_match_across_planes(spark, tmp_path, monkeypatch):
    """The shard key decides which shard file holds each entry; both
    planes must produce the same shards with the same totals, for a
    write whose chunk ids span two shards and a prefixed append."""
    import pyspark.sql.functions as F

    df = make_transcripts_df(spark, n_conv=40, seed=59)
    # chunks 0-2 in shard "00", chunks 10000-10002 in shard "01"
    two_shards = (F.col("turn_idx") % 2) * 10_000 + F.col("turn_idx") % 3
    refs = {}
    for plane, threshold in (("driver", 10**9), ("task", 1)):
        monkeypatch.setattr(manifest, "DISTRIBUTED_MANIFEST_MIN_CHUNKS",
                            threshold)
        out = str(tmp_path / plane)
        table.write_table(df, out, num_chunks=20_000, chunk_expr=two_shards)
        table.write_table(df.limit(30), out, num_chunks=1,
                          chunk_prefix="x-", append=True)
        refs[plane] = [
            {k: r[k] for k in ("shard", "n_chunks", "n_rows", "raw_bytes",
                               "enc_bytes")}
            for r in manifest.load_refs(out)["manifest_shards"]]
    assert [r["shard"] for r in refs["driver"]] == ["00", "01", "x-00"]
    assert refs["task"] == refs["driver"]
