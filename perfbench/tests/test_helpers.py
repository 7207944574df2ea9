"""Tests for the benchmark's own helpers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

from harness import quantile, tail  # noqa: E402


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(xs, 0.0) == 1.0
    assert quantile(xs, 0.5) == 3.0
    assert quantile(xs, 1.0) == 5.0
    assert quantile([1.0, 2.0], 0.5) == 1.5
    assert quantile([1.0, 2.0, 3.0, 4.0], 0.25) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value, n = tail(xs)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(1 for x in xs if x > value) == 10
    # order of the input does not matter
    assert tail(list(reversed(xs))) == (90.0, 90, 100)


def test_tail_needs_more_than_min_beyond_samples():
    assert tail(list(range(10))) is None
    pct, value, n = tail(list(range(11)))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    from harness import stop_spark

    # the Spark Python workers import the engine from the checkout
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.path.dirname(BENCH) + (
        os.pathsep + pp if pp else "")
    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
         .getOrCreate())
    yield s
    stop_spark(s)


def test_checksum_is_order_independent_and_detects_changes(spark):
    from harness import checksum_columns

    rows = [(i, f"s{i % 7}", float(i) / 3) for i in range(2000)]
    ddl = "a long, b string, c double"
    base = checksum_columns(spark.createDataFrame(rows, ddl))
    assert base["_rows"] == 2000 and set(base) == {"_rows", "a", "b", "c"}
    shuffled = spark.createDataFrame(rows[::-1], ddl).repartition(5)
    assert checksum_columns(shuffled) == base
    changed = list(rows)
    changed[17] = (17, "other", changed[17][2])
    got = checksum_columns(spark.createDataFrame(changed, ddl))
    assert got["b"] != base["b"] and got["a"] == base["a"]
    dup = checksum_columns(spark.createDataFrame(rows + rows[:1], ddl))
    assert dup["_rows"] == 2001 and dup["a"] != base["a"]
    assert checksum_columns(spark.createDataFrame(rows, ddl), ["a"]) == {
        "_rows": 2000, "a": base["a"]}


def test_checksum_sum_does_not_overflow_under_ansi(spark):
    """Unmasked xxhash64 sums overflow a long and raise in ANSI mode."""
    from harness import checksum_columns

    spark.conf.set("spark.sql.ansi.enabled", "true")
    df = spark.range(0, 200_000).selectExpr("id", "cast(id as string) s")
    got = checksum_columns(df)
    assert got["_rows"] == 200_000
    assert 0 < got["id"] < 200_000 * (1 << 32)


def test_replay_reproduces_manifest_bytes(spark, tmp_path):
    """The in-process replay re-encodes every chunk of a small table to
    exactly the bytes its manifest recorded."""
    import layers
    from parquet_go_spark import table as T
    from parquet_go_spark.fixtures import make_transcripts

    src = str(tmp_path / "src.parquet")
    import pyarrow.parquet as pq

    pq.write_table(make_transcripts(300, seed=5), src)
    out = str(tmp_path / "tbl")
    info = T.write_table(spark.read.parquet(src), out, num_chunks=6)
    got = layers.replay(out, None, str(tmp_path / "replay"), seed=5)
    assert got["trace.replay_chunks_mismatched"][0] == 0
    assert got["encode.chunks"][0] == info["n_chunks"]
    rows = info["n_rows"]
    total = sum(got[f"codec.b_per_row.{c}"][0] for c in
                ("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert total * rows == pytest.approx(info["enc_bytes"])
