"""IO sinks/sources + checkpoint lineage (kill/resume invariant)."""

import os

import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark.plans import lineage as L
from gfp_gdal_spark.sources import datagen, io as IO


def test_vector_layer_roundtrip(spark, tmp_path):
    vl = datagen.vector_layer(spark, 40)
    out = str(tmp_path / "layer")
    IO.write_vector_layer(vl, out)
    back = IO.read_vector_layer(spark, out)
    assert back.count() == 40
    assert set(back.columns) == set(vl.columns)
    # attribute filter pushes into the scan (S3 analog)
    filt = IO.read_vector_layer(spark, out, attribute_filter="category = 'water'")
    assert filt.count() == vl.where("category = 'water'").count()


def test_rename_map_and_only_mapped(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "id int, name string, v double")
    out = IO.apply_rename_map(df, {"id": "fid", "v": "value"})
    assert out.columns == ["fid", "name", "value"]
    out2 = IO.apply_rename_map(df, {"id": "fid"}, only_mapped=True)
    assert out2.columns == ["fid"]


def test_csv_roundtrip_precision(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 1.23456789), (2, 2.0)], "id int, x double"
    )
    out = str(tmp_path / "csv")
    IO.write_csv(df, out, precision=3)
    back = spark.read.csv(out, header=True, sep=" ")
    vals = {r["id"]: r["x"] for r in back.collect()}
    assert vals["1"] == "1.235" and vals["2"] == "2.000"


def test_points_csv_thinning(spark, tmp_path):
    p = tmp_path / "pts.csv"
    lines = ["x y z"] + [f"{i}.0 {i * 2}.0 0.5" for i in range(100)]
    p.write_text("\n".join(lines))
    df = IO.read_points_csv(spark, str(p), thin_nth=5)
    got = sorted(r["x"] for r in df.collect())
    assert got == sorted(float(i) for i in range(0, 100, 5))


def test_segments_csv_grouping(spark, tmp_path):
    p = tmp_path / "seg.csv"
    rows = ["x_start y_start BuildingID quality"]
    for i in range(30):
        rows.append(f"{i}.0 {i}.0 b{i % 3} {i % 5}")
    p.write_text("\n".join(rows))
    df = IO.read_segments_csv(spark, str(p), aggregate_name="BuildingID")
    out = {r["BuildingID"]: r["n_segments"] for r in df.collect()}
    assert out == {"b0": 10, "b1": 10, "b2": 10}


def test_pending_buckets_absent_manifest_runs_no_job(spark, tmp_path):
    """A first run (no manifest yet) learns that every bucket is pending
    without a Spark job; an existing manifest is read by one."""
    sc = spark.sparkContext
    absent, present = str(tmp_path / "absent"), str(tmp_path / "manifest")
    spark.createDataFrame([(1, 10, 100, 1, 0.5, "t")], L.MANIFEST_SCHEMA).write.parquet(present)
    try:
        sc.setJobGroup("pending_absent", "pending_buckets without a manifest")
        assert L.pending_buckets(spark, absent, 4) == [0, 1, 2, 3]
        sc.setJobGroup("pending_present", "pending_buckets with a manifest")
        assert L.pending_buckets(spark, present, 4) == [0, 2, 3]
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("pending_absent")) == []
    assert len(sc.statusTracker().getJobIdsForGroup("pending_present")) > 0


def test_lineage_kill_resume(spark, tmp_path):
    """north_rule: a killed job resumes without recomputing finished
    buckets, and the final output equals an uninterrupted run."""
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")

    with pytest.raises(RuntimeError, match="simulated failure"):
        L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2, fail_after=2)

    done_before = set(r.bucket for r in L.read_manifest(spark, man).collect())
    assert len(done_before) == 4  # 2 groups x 2 buckets committed

    res = L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2)
    assert res["buckets_processed"] == 4  # only the remaining buckets

    final = spark.read.parquet(out)
    assert final.count() == 2000
    assert final.select(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(2000))
    # manifest has full lineage metrics
    m = L.read_manifest(spark, man).toPandas()
    assert len(m) == 8 and (m["rows"] > 0).all() and (m["bytes"] > 0).all()
    per_bucket = {r.bucket: r["count"] for r in final.groupBy("bucket").count().collect()}
    assert dict(zip(m["bucket"], m["rows"])) == per_bucket

    # idempotent: running again does nothing
    res2 = L.run_bucketed(spark, df, out, man, "id", n_buckets=8)
    assert res2["buckets_processed"] == 0
