"""The table-schema cache behind ``tables.load_table``.

``load_table`` infers a table's Parquet schema once per file version
and session inference confs, then reads with that schema, so repeat
reads submit no schema-inference job. These tests pin the cache key
(file identity + inference confs), that each read is still a fresh
relation, and that the same call works over a non-``file`` scheme.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from mirrulations_iceberg_spark.tables import load_table, table_schema

from .conftest import SF_DIR


def _jobs_submitted(spark, fn) -> int:
    """Run ``fn`` under a fresh job group and return how many Spark
    jobs it submitted. The status store is fed by the asynchronous
    listener bus, so a marker job in a second group runs afterwards:
    once the marker shows up, every job ``fn`` submitted has too."""
    sc = spark.sparkContext
    group, marker = f"t-{uuid.uuid4().hex}", f"m-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _copy_table(dst_dir, name: str) -> None:
    shutil.copyfile(
        os.path.join(SF_DIR, f"{name}.parquet"), os.path.join(dst_dir, f"{name}.parquet")
    )


def test_second_load_submits_no_job(spark, tmp_path):
    _copy_table(tmp_path, "orders")
    first = _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second = _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1  # the schema-inference job: proves the probe sees jobs
    assert second == 0


def test_rewrite_at_same_path_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(
        pa.table({"b": pa.array(["x"]), "c": pa.array([1.5], pa.float64())}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert df.collect()[0].asDict() == {"b": "x", "c": 1.5}


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"raw": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert table_schema(spark, str(tmp_path), "nation").simpleString() == (
            "struct<raw:binary>"
        )
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "nation")
        assert dict(df.dtypes) == {"raw": "string"}
        assert df.collect()[0]["raw"] == "ab"
    finally:
        spark.conf.set(key, prev)


def test_two_loads_of_one_table_self_join(spark):
    a = load_table(spark, SF_DIR, "documents")
    b = load_table(spark, SF_DIR, "documents")
    assert a.join(b, "doc_id").count() == a.count()


def test_load_table_over_viewfs_mount(spark, mount, tmp_path):
    _copy_table(tmp_path, "supplier")
    df = load_table(spark, mount, "supplier")
    local = load_table(spark, SF_DIR, "supplier")
    assert df.schema == local.schema
    assert df.count() == local.count()
    assert _jobs_submitted(spark, lambda: load_table(spark, mount, "supplier")) == 0
