from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("parquet_go_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def decode_site(monkeypatch):
    """``decode_site(name)`` forces every later read_table / search_text
    of a driver-plane table onto one decode site: "driver" (decode in
    this process, local relation) or "job" (mapInArrow Spark job), by
    moving the one bound the site rule reads."""
    from parquet_go_spark import manifest

    def force(site: str) -> None:
        monkeypatch.setattr(manifest, "DRIVER_DECODE_MAX_RAW_BYTES",
                            {"job": 0, "driver": 1 << 62}[site])

    return force


@pytest.fixture
def encode_site(monkeypatch):
    """``encode_site(name)`` forces every later write_table /
    write_table_direct of a driver-plane table onto one encode site:
    "driver" (encode in this process) or "task" (Spark tasks behind the
    exchange), by moving the bound the site rule reads. Inputs of
    unknown size and task-plane writes stay on the task site either
    way."""
    from parquet_go_spark import manifest

    def force(site: str) -> None:
        monkeypatch.setattr(manifest, "DRIVER_ENCODE_MAX_BYTES",
                            {"task": 0, "driver": 1 << 62}[site])

    return force


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(fn's result, the ids of the Spark jobs it ran)``, read
    from the status tracker once every job of the group has settled."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

        def settled():
            return all(tracker.getJobInfo(j) is not None
                       and tracker.getJobInfo(j).status == "SUCCEEDED"
                       for j in tracker.getJobIdsForGroup(group))

        # the status store fills from the listener bus, after the job
        # returns
        deadline = time.time() + 30
        while not settled() and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.5)
        return out, tracker.getJobIdsForGroup(group)

    return run
