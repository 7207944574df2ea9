"""The two decode sites of read_table and search_text.

A driver-plane read whose surviving chunks are small decodes in the
driver process and returns a local relation; a larger one decodes in a
mapInArrow Spark job (``manifest._driver_decode``). Both sites run the
same decoder over the same decode rows, so every read here must give
the same Arrow table (values and schema) on both, and a faulty chunk
must fail on both.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_go_spark import manifest, table
from parquet_go_spark.fixtures import make_transcripts_df


def _sorted(t: pa.Table) -> pa.Table:
    """``t``'s rows in a site-independent order: by every flat column."""
    return t.sort_by([(f.name, "ascending") for f in t.schema
                      if not pa.types.is_nested(f.type)])


@pytest.fixture(scope="module")
def nested(spark, tmp_path_factory):
    """A bloom + token-bloom table with struct, list<struct> and map
    columns; its first snapshot holds a 100-row prefix, the second
    appends the rest under another chunk namespace."""
    df = make_transcripts_df(spark, n_conv=120, seed=9).withColumn(
        "meta", F.struct(F.col("turn_idx").cast("long").alias("u"),
                         F.col("role").alias("r")),
    ).withColumn(
        "calls", F.when(F.col("turn_idx") % 4 == 0, F.lit(None)).otherwise(
            F.array(F.struct(F.col("tool").alias("name"),
                             (F.col("turn_idx") * 0.5).alias("v")))),
    ).withColumn(
        "attrs", F.create_map(F.lit("k"), F.col("role"),
                              F.lit("p"), F.col("tool")),
    ).cache()
    out = str(tmp_path_factory.mktemp("site") / "tbl")
    head = df.orderBy("conv_id", "turn_idx").limit(100)
    table.write_table(head, out, num_chunks=2, chunk_prefix="v1-",
                      bloom_cols=("conv_id",), token_bloom_cols=("text",))
    rest = df.join(head.select("conv_id", "turn_idx"),
                   ["conv_id", "turn_idx"], "left_anti")
    table.write_table(rest, out, num_chunks=6, chunk_prefix="v2-",
                      append=True, bloom_cols=("conv_id",),
                      token_bloom_cols=("text",))
    return out


def _job_calls(monkeypatch) -> list:
    """A list that grows by one each time a read launches the decode
    job (``table._decode_df``)."""
    calls = []
    orig = table._decode_df

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(table, "_decode_df", spy)
    return calls


def _on_both_sites(decode_site, monkeypatch, read) -> pa.Table:
    """``read()``'s Arrow result, which must be identical (values and
    schema, rows sorted) whether the driver or a Spark job decodes;
    asserts each forced site really ran."""
    calls = _job_calls(monkeypatch)
    got = {}
    for site in ("job", "driver"):
        decode_site(site)
        calls.clear()
        t = read().toArrow()
        got[site] = _sorted(t)
        if t.num_rows:
            assert bool(calls) == (site == "job"), site
    assert got["job"].schema == got["driver"].schema
    assert got["job"].equals(got["driver"])
    return got["job"]


def test_point_lookup_same_on_both_sites(spark, nested, decode_site,
                                         monkeypatch):
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, predicates={"conv_id": "conv-00000007"},
        push_row_filter=True))
    assert got.num_rows > 0
    assert set(got.column("conv_id").to_pylist()) == {"conv-00000007"}
    assert got.column_names[-3:] == ["meta", "calls", "attrs"]


def test_range_read_same_on_both_sites(spark, nested, decode_site,
                                       monkeypatch):
    lo, hi = 2, 5
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, columns=["conv_id", "turn_idx", "ts"],
        predicates={"turn_idx": (lo, hi)}, push_row_filter=True))
    assert got.num_rows > 0
    assert all(lo <= v <= hi for v in got.column("turn_idx").to_pylist())


def test_child_projections_same_on_both_sites(spark, nested, decode_site,
                                              monkeypatch):
    cols = ["conv_id", "turn_idx", "meta.u", "calls.name", "attrs.k"]
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, columns=cols))
    assert got.column_names == cols
    assert got.column("meta.u").to_pylist() == \
        got.column("turn_idx").to_pylist()
    assert pa.types.is_list(got.schema.field("calls.name").type)
    assert got.column("calls.name").null_count > 0


def test_time_travel_same_on_both_sites(spark, nested, decode_site,
                                        monkeypatch):
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, snapshot_id=0))
    assert got.num_rows == 100


def test_search_text_same_on_both_sites(spark, nested, decode_site,
                                        monkeypatch):
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.search_text(
        spark, nested, "text", "the", columns=["conv_id", "turn_idx",
                                               "meta"]))
    assert got.num_rows > 0
    assert got.column_names == ["conv_id", "turn_idx", "meta"]


def test_search_text_reads_like_read_table(spark, nested, decode_site,
                                          monkeypatch):
    """search_text reads through read_table's core: a "base.child"
    column comes back as read_table gives it, and an unknown column
    raises read_table's KeyError, on both sites."""
    cols = ["conv_id", "turn_idx", "meta.u"]
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.search_text(
        spark, nested, "text", "the", columns=cols))
    assert got.num_rows > 0 and got.column_names == cols
    for site in ("job", "driver"):
        decode_site(site)
        want = table.read_table(spark, nested, columns=[*cols, "text"]) \
            .filter(F.array_contains(F.split("text", " "), "the")) \
            .select([f"`{c}`" for c in cols])
        assert _sorted(want.toArrow()).equals(got)
        with pytest.raises(KeyError, match="not in table schema"):
            table.search_text(spark, nested, "text", "the",
                              columns=["conv_id", "no_such_col"])


def test_fully_pruned_read_same_on_both_sites(spark, nested, decode_site,
                                              monkeypatch):
    got = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, predicates={"conv_id": "no-such-conv"}))
    assert got.num_rows == 0
    full = table.read_table(spark, nested,
                            predicates={"conv_id": "conv-00000007"})
    assert got.schema == full.toArrow().schema
    # chunks survive pruning, but the row filter drops every row
    gap = {"conv_id": ("conv-00000007a", "conv-00000007b")}
    assert table.prune_entries(manifest.load(nested)["entries"], gap)
    none = _on_both_sites(decode_site, monkeypatch, lambda: table.read_table(
        spark, nested, predicates=gap, push_row_filter=True))
    assert none.num_rows == 0 and none.schema == got.schema


def test_schema_evolution_same_on_both_sites(spark, tmp_path, decode_site,
                                             monkeypatch):
    out = str(tmp_path / "tbl")
    table.write_table(make_transcripts_df(spark, n_conv=20, seed=11), out,
                      num_chunks=2, chunk_prefix="v1-")
    table.write_table(make_transcripts_df(spark, n_conv=20, seed=12)
                      .withColumn("model", F.lit("m-1")), out,
                      num_chunks=2, chunk_prefix="v2-", append=True)
    got = _on_both_sites(decode_site, monkeypatch,
                         lambda: table.read_table(spark, out))
    assert got.column("model").null_count > 0
    assert set(got.column("model").drop_null().to_pylist()) == {"m-1"}


def test_intervals_same_on_both_sites(spark, tmp_path, decode_site,
                                      monkeypatch):
    src = spark.sql("""
        SELECT CAST(id % 5 AS STRING) AS conv_id, CAST(id AS INT) AS turn_idx,
               CASE WHEN id % 7 = 0 THEN NULL
                    ELSE make_dt_interval(CAST(id % 3 AS INT), 1, 2,
                                          0.000001 * CAST(id AS DOUBLE))
               END AS dur,
               CASE WHEN id % 11 = 0 THEN NULL
                    ELSE make_ym_interval(CAST(id % 5 AS INT), 1)
               END AS age
        FROM range(60)
    """)
    out = str(tmp_path / "iv")
    table.write_table(src, out, num_chunks=2)
    schemas = []

    def read():
        df = table.read_table(spark, out)
        schemas.append(df.schema)
        # PySpark cannot collect year-month intervals: compare their
        # string form next to the restored day-time values
        return df.withColumn("age", F.col("age").cast("string"))

    got = _on_both_sites(decode_site, monkeypatch, read)
    assert schemas[0] == schemas[1]
    assert [f.dataType for f in schemas[0].fields[2:]] == \
        [f.dataType for f in src.schema.fields[2:]]
    assert got.column("dur").type == pa.duration("us")
    want = src.withColumn("age", F.col("age").cast("string")).toArrow()
    assert got.to_pylist() == _sorted(want).to_pylist()


def test_timestamps_same_on_both_sites_in_non_utc_session(
        spark, nested, decode_site):
    """The driver site hands Spark the decoder's Arrow output through
    createDataFrame, which localizes tz-naive timestamps to the session
    zone; the decoder emits UTC-zoned ones, so ts must collect to the
    same datetimes as the Spark job's in any session zone."""
    from parquet_go_spark.decode import make_decode_fn

    f = os.path.join(nested, manifest.load(nested)["entries"][0]["file"])
    (b,) = make_decode_fn(["ts"])(iter([pa.record_batch({"file": [f]})]))
    assert b.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = {}
        for site in ("job", "driver"):
            decode_site(site)
            got[site] = sorted(table.read_table(
                spark, nested, columns=["conv_id", "turn_idx", "ts"],
                predicates={"conv_id": ("conv-00000000", "conv-00000030")},
            ).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got["job"] and got["job"] == got["driver"]
    assert isinstance(got["job"][0]["ts"], datetime.datetime)


@pytest.mark.parametrize("site", ["job", "driver"])
def test_nested_timestamps_read_back_in_non_utc_session(spark, tmp_path,
                                                        decode_site, site):
    """A timestamp inside a struct, a struct in a struct and a
    list<struct>, written and read in an America/Los_Angeles session,
    reads back as written on both sites: each child decodes as UTC
    whatever zone the stored type names, and the rebuilt column is cast
    once to that type."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        df = make_transcripts_df(spark, n_conv=40, seed=61).withColumn(
            "meta", F.struct(
                F.col("ts").alias("t"), F.col("role").alias("r"),
                F.when(F.col("turn_idx") % 5 > 0,
                       F.struct(F.col("ts").alias("t"))).alias("s")),
        ).withColumn(
            "calls", F.when(F.col("turn_idx") % 3 == 0, F.lit(None))
            .otherwise(F.array(F.struct(F.col("ts").alias("t"),
                                        F.col("tool").alias("name")))))
        out = str(tmp_path / "tbl")
        table.write_table(df, out, num_chunks=4)
        decode_site(site)
        got = table.read_table(spark, out).collect()
        want = df.collect()
    finally:
        spark.conf.set(key, prev)

    def order(rows):
        return sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))

    assert got and order(got) == order(want)
    assert isinstance(got[0]["meta"]["t"], datetime.datetime)


def _chunk_digests(table_dir: str) -> dict:
    """{chunk id: {blob column: sha256}} of a table's current chunks."""
    import hashlib

    import pyarrow.parquet as pq

    out = {}
    for e in manifest.load(table_dir)["entries"]:
        t = pq.read_table(os.path.join(table_dir, e["file"]))
        out[e["chunk_id"]] = {
            c: hashlib.sha256(t.column(c)[0].as_py()).hexdigest()
            for c in t.column_names}
    return out


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
@pytest.mark.parametrize("op", ["compact", "delete_rows", "upsert_table"])
def test_rewrite_same_on_both_sites(spark, tmp_path, decode_site,
                                    monkeypatch, op, zone):
    """compact, delete_rows and upsert_table decode the chunks they
    rewrite on read_table's site. Forced to the driver or to a Spark
    job, each op writes the same blob bytes under the same chunk ids
    and leaves the same rows, in any session zone."""
    df = make_transcripts_df(spark, n_conv=40, seed=61).withColumn(
        "meta", F.struct(F.col("turn_idx").alias("u"),
                         F.col("ts").alias("t"),
                         F.col("role").alias("r")))
    target = "conv-00000007"
    fix = df.filter(F.col("conv_id") == target) \
        .withColumn("text", F.lit("x y")) \
        .unionByName(df.filter(F.col("conv_id") == "conv-00000008")
                     .withColumn("conv_id", F.lit("conv-99999999")))
    calls = _job_calls(monkeypatch)
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, zone)
    got = {}
    try:
        for site in ("job", "driver"):
            out = str(tmp_path / site)
            if op == "compact":
                first = F.col("conv_id") < "conv-00000020"
                for prefix, part in (("a-", first), ("b-", ~first)):
                    table.write_table(df.filter(part), out, num_chunks=3,
                                      chunk_prefix=prefix, append=True,
                                      bloom_cols=("conv_id",))
            else:
                table.write_table(df, out, num_chunks=4,
                                  bloom_cols=("conv_id",))
            decode_site(site)
            calls.clear()
            {"compact": lambda: table.compact(spark, out, min_rows=1 << 30,
                                              rows_per_chunk=200),
             "delete_rows": lambda: table.delete_rows(
                 spark, out, {"conv_id": target}),
             "upsert_table": lambda: table.upsert_table(spark, out, fix),
             }[op]()
            assert bool(calls) == (site == "job"), site
            got[site] = (_chunk_digests(out),
                         _sorted(table.read_table(spark, out).toArrow()))
    finally:
        spark.conf.set(key, prev)
    (job_blobs, job_rows), (driver_blobs, driver_rows) = \
        got["job"], got["driver"]
    assert job_blobs == driver_blobs
    assert job_rows.equals(driver_rows) and job_rows.num_rows > 0
    texts = {r["text"] for r in job_rows.to_pylist()
             if r["conv_id"] == target}
    if op == "compact":
        assert len(job_blobs) > 1
        assert all(c.startswith("c") for c in job_blobs)
    else:
        assert texts == {"delete_rows": set(), "upsert_table": {"x y"}}[op]


def test_point_lookup_skips_the_spark_job(spark, tmp_path, monkeypatch):
    """The site rule at its real bound: a bloom point lookup on a
    50-chunk table decodes on the driver, and a read whose decoded raw
    bytes exceed the bound launches the decode job."""
    out = str(tmp_path / "tbl")
    # range chunks of 4 conversations each
    ck = F.floor(F.substring("conv_id", 6, 8).cast("long") / F.lit(4))
    table.write_table(make_transcripts_df(spark, n_conv=200, seed=5), out,
                      chunk_expr=ck, num_chunks=50, bloom_cols=("conv_id",))
    entries = manifest.load(out)["entries"]
    assert len(entries) == 50
    calls = _job_calls(monkeypatch)
    point = table.read_table(spark, out, predicates={"conv_id":
                                                     "conv-00000007"},
                             push_row_filter=True)
    assert not calls
    assert point.count() > 0
    # a bound above one chunk's raw bytes and below the whole table's
    total = sum(e["raw_bytes"] for e in entries)
    assert max(e["raw_bytes"] for e in entries) < total // 2
    monkeypatch.setattr(manifest, "DRIVER_DECODE_MAX_RAW_BYTES", total // 2)
    table.read_table(spark, out, predicates={"conv_id": "conv-00000007"})
    assert not calls
    full = table.read_table(spark, out)
    assert len(calls) == 1
    assert full.count() == sum(e["n_rows"] for e in entries)


def test_driver_site_to_arrow_runs_no_spark_job(spark, nested, decode_site,
                                                spark_jobs):
    """A driver-site result keeps the table the driver decoded, so its
    toArrow() runs no Spark job: a bloom hit, a fully pruned read and a
    row filter that empties every surviving chunk. The job site still
    runs the decode job."""
    gap = {"conv_id": ("conv-00000007a", "conv-00000007b")}
    reads = {
        "bloom hit": dict(predicates={"conv_id": "conv-00000007"},
                          push_row_filter=True),
        "fully pruned": dict(predicates={"conv_id": "no-such-conv"}),
        "row filter empties": dict(predicates=gap, push_row_filter=True),
    }
    assert table.prune_entries(manifest.load(nested)["entries"], gap)
    decode_site("driver")
    for name, kw in reads.items():
        got, jobs = spark_jobs(
            lambda: table.read_table(spark, nested, **kw).toArrow())
        assert jobs == [], name
        assert (got.num_rows > 0) == (name == "bloom hit"), name
    decode_site("job")
    _, jobs = spark_jobs(lambda: table.read_table(
        spark, nested, **reads["bloom hit"]).toArrow())
    assert len(jobs) >= 1


@pytest.mark.parametrize("conf", [
    {"spark.sql.session.timeZone": "UTC"},
    {"spark.sql.session.timeZone": "America/Los_Angeles"},
    {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
])
def test_held_to_arrow_equals_the_jvm_collect(spark, nested, decode_site,
                                              conf):
    """The held table's toArrow() is what PySpark's own toArrow()
    collects from the same relation through the JVM, in schema and
    values: struct, list<struct>, map and timestamp columns, in a UTC
    and a non-UTC session and with large var types."""
    from pyspark.sql import DataFrame

    decode_site("driver")
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        for kw in ({}, {"predicates": {"conv_id": "conv-00000007"},
                        "push_row_filter": True},
                   {"predicates": {"conv_id": "no-such-conv"}}):
            df = table.read_table(spark, nested, **kw)
            assert isinstance(df, table._LocalResult), kw
            held, jvm = df.toArrow(), DataFrame(df._jdf, spark).toArrow()
            assert held.schema == jvm.schema, kw
            assert held.equals(jvm), kw
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_transformed_driver_site_result_is_a_plain_dataframe(
        spark, nested, decode_site):
    """select, filter, limit and unionByName of a driver-site result
    give plain DataFrames (their toArrow() collects through Spark) with
    the rows the same transform of the job-site result gives."""
    from pyspark.sql.classic.dataframe import DataFrame

    transforms = {
        "select": lambda d: d.select("conv_id", "meta"),
        "filter": lambda d: d.filter(F.col("turn_idx") > 2),
        "limit": lambda d: d.limit(1 << 20),
        "unionByName": lambda d: d.unionByName(d),
    }
    got = {}
    for site in ("job", "driver"):
        decode_site(site)
        df = table.read_table(spark, nested,
                              predicates={"conv_id": ("conv-00000000",
                                                      "conv-00000030")})
        got[site] = {name: t(df) for name, t in transforms.items()}
    for name, out in got["driver"].items():
        assert type(out) is DataFrame, name
        assert _sorted(out.toArrow()).equals(
            _sorted(got["job"][name].toArrow())), name
        assert out.count() > 0
