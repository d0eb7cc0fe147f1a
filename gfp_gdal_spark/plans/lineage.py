"""Checkpoint lineage: resumable bucketed runs + per-partition metrics
[north_rule: "resumable from checkpoint with per-partition lineage +
metrics"].

Design: work is partitioned into deterministic BUCKETS (e.g. coarse
spatial cells, or pmod(hash(id), n)). A manifest table records one row
per finished bucket with its metrics. A resumed run anti-joins the
bucket list against the manifest and recomputes ONLY missing buckets;
bucket outputs go to ``out/bucket=<id>/`` via dynamic partition
overwrite, so a re-run of a half-finished bucket is idempotent.

This is the engine's analog of OGRWriter's transactional batch commits
(ogr_writer_node.cpp:524-531) lifted to cluster granularity: the
"transaction" is a bucket, the commit is the manifest row.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "bucket_column",
    "pending_buckets",
    "run_bucketed",
    "read_manifest",
    "flat_checkpoint",
]


def flat_checkpoint(df: DataFrame, return_count: bool = False):
    """localCheckpoint with ABSOLUTE size stats — required inside
    iterative self-join loops.

    ``df.localCheckpoint()`` alone copies the child plan's ESTIMATED
    sizeInBytes into the LogicalRDD; a join's estimate is the product
    of its sides, so an iterative loop that joins a checkpoint with
    itself SQUARES the estimate every round. After ~19 rounds the
    statistic is a 500k-bit BigInteger and every subsequent stats visit
    spends seconds in BigInteger.multiply (driver single-thread, wall
    doubling per round — measured; the Karatsuba/ToomCook frames under
    SizeInBytesOnlyStatsPlanVisitor.visitJoin are the tell).

    Fix: materialize a cache first — InMemoryRelation's stats after
    materialization are the ACTUAL cached bytes — then checkpoint (the
    LogicalRDD inherits the absolute number), then drop the cache.
    Costs one extra in-memory materialization per call; lineage is cut
    and the estimate chain is reset to ground truth.

    ``return_count=True`` returns ``(df, n)`` — the row count is
    computed anyway for the materialization, so iterative loops that
    need a convergence check (bfs_hops) get it for free.
    """
    cached = df.persist()
    n = cached.count()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    if return_count:
        return out, n
    return out

MANIFEST_SCHEMA = "bucket long, rows long, bytes long, n_files long, wall_sec double, ts string"


def bucket_column(id_col: str, n_buckets: int):
    """Deterministic bucket id from a key column."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("long")


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem of ``path`` (any
    scheme Spark can read) — a few py4j calls, no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def pending_buckets(spark: SparkSession, manifest_path: str, n_buckets: int) -> list[int]:
    if not _path_exists(spark, manifest_path):
        # first run: nothing committed, so no job to collect an empty frame
        return list(range(n_buckets))
    done = {r.bucket for r in read_manifest(spark, manifest_path).select("bucket").collect()}
    return [b for b in range(n_buckets) if b not in done]


def run_bucketed(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    manifest_path: str,
    id_col: str,
    n_buckets: int = 16,
    buckets_per_job: int = 4,
    fail_after: int | None = None,
) -> dict:
    """Process ``df`` bucket-group by bucket-group, committing a
    manifest row per finished group. Resume = call again: finished
    buckets are skipped via the manifest (the anti-join is a driver-side
    set difference — the manifest is tiny by construction).

    ``fail_after`` kills the run after N bucket groups (test hook for
    the kill/resume invariant). Returns run metrics.
    """
    pend = pending_buckets(spark, manifest_path, n_buckets)
    work = df.withColumn("bucket", bucket_column(id_col, n_buckets))
    n_done = 0
    t_run = time.time()
    for i in range(0, len(pend), buckets_per_job):
        group = pend[i : i + buckets_per_job]
        t0 = time.time()
        part = work.where(F.col("bucket").isin(group))
        # dynamic partition overwrite set ON THE WRITER: with Spark's
        # session default (static), this overwrite would delete EVERY
        # previously committed bucket partition while the manifest still
        # marks them done — silent data loss on resume. The writer-level
        # option makes resume correct regardless of session conf.
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )
        wall = time.time() - t0
        # per-bucket metrics from the files just written
        stats = (
            spark.read.parquet(out_path)
            .where(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        sizes = {}
        for b in group:
            bdir = os.path.join(out_path, f"bucket={b}")
            fs = [
                os.path.join(bdir, f)
                for f in (os.listdir(bdir) if os.path.isdir(bdir) else [])
                if f.endswith(".parquet")
            ]
            sizes[b] = (sum(os.path.getsize(f) for f in fs), len(fs))
        rows_map = {r.bucket: r.rows for r in stats}
        # a pandas frame goes to the JVM as Arrow batches; a Python list
        # would need a Python worker to deserialize the rows
        manifest_rows = pd.DataFrame(
            {
                "bucket": pd.Series(group, dtype="int64"),
                "rows": pd.Series([rows_map.get(b, 0) for b in group], dtype="int64"),
                "bytes": pd.Series([sizes[b][0] for b in group], dtype="int64"),
                "n_files": pd.Series([sizes[b][1] for b in group], dtype="int64"),
                "wall_sec": float(wall / len(group)),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA).write.mode("append").parquet(
            manifest_path
        )
        n_done += 1
        if fail_after is not None and n_done >= fail_after:
            raise RuntimeError(f"simulated failure after {n_done} bucket groups")
    return {
        "buckets_processed": len(pend),
        "wall_sec": time.time() - t_run,
        "manifest": manifest_path,
    }
