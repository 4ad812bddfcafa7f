"""Iceberg writer-seam gate (VERDICT r4 #7).

The mandate targets partitioned Iceberg tables [BASELINE.json]; this
sandbox ships no ``iceberg-spark-runtime`` jar, so the real writer
path cannot execute here.  These tests keep the seam HONEST:

* in a jar-less environment the iceberg path raises loudly (never a
  silent parquet fallback), and the real-writer test SKIPs with the
  activation recipe in the skip message — a future jar-present
  environment exercises it immediately instead of silently passing;
* the parquet twin of the seam stays green everywhere.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pysql2neo4j_spark.sources.transcripts import iceberg_available, write_bucketed


def test_icebergless_env_raises_loudly(spark, tmp_out):
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present — the raise path is unreachable")
    df = spark.range(10).withColumn("entity_id", F.concat(F.lit("e"), F.col("id")))
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_bucketed(df, "local.db.t", "entity_id", n_buckets=4, catalog="iceberg")


def test_iceberg_real_writer_roundtrip(spark, tmp_out):
    """SKIPs (with recipe) until a runtime jar exists; then runs for real."""
    if not iceberg_available(spark):
        pytest.skip(
            "no iceberg-spark-runtime jar on the classpath — to activate: add "
            "iceberg-spark-runtime-4.0_2.13 to spark.jars, set "
            "spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog, "
            "spark.sql.catalog.local.type=hadoop, "
            "spark.sql.catalog.local.warehouse=/tmp/iceberg-wh, then rerun — "
            "this test then writes local.db.kg_seam via "
            "writeTo().partitionedBy(bucket(...)) and asserts a bucketed read-back"
        )
    df = spark.range(100).withColumn("entity_id", F.concat(F.lit("e"), F.col("id")))
    write_bucketed(df, "local.db.kg_seam", "entity_id", n_buckets=4, catalog="iceberg")
    back = spark.read.table("local.db.kg_seam")
    assert back.count() == 100
    assert {f.name for f in back.schema.fields} >= {"id", "entity_id"}


def assert_one_file_per_bucket(path):
    for d in os.listdir(path):
        if d.startswith("part_key="):
            files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
            assert len(files) == 1, f"{d} holds {len(files)} data files"


def test_parquet_twin_same_bucket_spec(spark, tmp_out):
    """The parquet side of the seam: same bucket count, deterministic
    xxhash64 bucket assignment, one directory per bucket."""
    df = spark.range(200).withColumn("entity_id", F.concat(F.lit("e"), F.col("id")))
    path = os.path.join(tmp_out, "seam_parquet")
    write_bucketed(df, path, "entity_id", n_buckets=8, catalog="parquet")
    parts = sorted(d for d in os.listdir(path) if d.startswith("part_key="))
    assert len(parts) == 8
    assert_one_file_per_bucket(path)
    back = spark.read.parquet(path)
    assert back.count() == 200
    # bucket assignment is the documented formula — re-derivable
    rederived = back.withColumn(
        "expect", F.pmod(F.xxhash64(F.col("entity_id")), F.lit(8)).cast("int")
    )
    assert rederived.filter(F.col("part_key") != F.col("expect")).count() == 0


def test_parquet_twin_write_is_one_wave(spark, tmp_out):
    """More buckets than cores: the write runs at most defaultParallelism
    tasks per stage, and every bucket is still exactly one file."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n_buckets = 8 * cores
    df = spark.range(50 * n_buckets).withColumn("entity_id", F.concat(F.lit("e"), F.col("id")))
    path = os.path.join(tmp_out, "seam_one_wave")
    sc.setJobGroup("bucket_write", "one-wave bucketed write")
    try:
        write_bucketed(df, path, "entity_id", n_buckets=n_buckets, catalog="parquet")
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("bucket_write")
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        infos = [tracker.getStageInfo(s) for s in stages]
    finally:
        sc.setJobGroup("", "")
    assert jobs and all(i is not None for i in infos)
    tasks = [i.numTasks for i in infos]
    assert max(tasks) <= cores, f"stage task counts {tasks} exceed {cores} cores"
    parts = [d for d in os.listdir(path) if d.startswith("part_key=")]
    assert len(parts) == n_buckets
    assert_one_file_per_bucket(path)
    assert spark.read.parquet(path).count() == df.count()
