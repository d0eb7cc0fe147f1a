"""Micro numbers for the hot kernels and column expressions.

Codec kernels are timed directly on generated pixel tensors. A column
expression is timed as one ``sum`` of it over 1M cached rows on
local[nproc]; the figure is that wall time per row, so it includes the
fixed cost of scanning the cached rows.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

GROUPS = (("ppm", 16, 16), ("png", 32, 24), ("qnt", 64, 48))
N_IMAGES_PER_GROUP = 256
N_ROWS = 1_000_000


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def codec(reps: int = 7) -> dict[str, float]:
    from gfp_gdal_spark.kernels import codec as C

    groups = []
    for k, (fmt, w, h) in enumerate(GROUPS):
        pix = np.stack([C.synth_pixels(k * N_IMAGES_PER_GROUP + i, w, h) for i in range(N_IMAGES_PER_GROUP)])
        groups.append((fmt, w, h, pix, C.encode_group(pix, fmt)))
    mb = sum(g[3].nbytes for g in groups) / 1e6
    n = len(groups) * N_IMAGES_PER_GROUP
    enc = _median_time(lambda: [C.encode_group(pix, fmt) for fmt, _, _, pix, _ in groups], reps)
    dec = _median_time(lambda: [C.decode_group(b, fmt, w, h) for fmt, w, h, _, b in groups], reps)
    ah = _median_time(lambda: [C.ahash_batch(pix) for _, _, _, pix, _ in groups], reps)
    return {
        "kernels.codec.decode_group_mb_per_s": mb / dec,
        "kernels.codec.encode_group_mb_per_s": mb / enc,
        "kernels.codec.ahash_batch_imgs_per_s": n / ah,
    }


def expressions(spark, reps: int = 3) -> dict[str, float]:
    from pyspark.sql import functions as F

    from gfp_gdal_spark.functions.geometry import haversine_m
    from gfp_gdal_spark.functions.spatial import hex_cell, pip_refine_rect_col, rect_bounds_col

    lon, lat = F.col("lon"), F.col("lat")
    cx, cy, r = F.col("cx"), F.col("cy"), F.lit(0.05)
    rect = F.array(F.array(cx - r, cy - r), F.array(cx + r, cy - r),
                   F.array(cx + r, cy + r), F.array(cx - r, cy + r))
    hexagon = F.array(*[F.array(cx + r * float(np.cos(a)), cy + r * float(np.sin(a)))
                        for a in np.arange(6) * np.pi / 3])
    df = (
        spark.range(N_ROWS, numPartitions=spark.sparkContext.defaultParallelism)
        .select((F.rand(1) * 356.0 - 178.0).alias("lon"), (F.rand(2) * 166.0 - 83.0).alias("lat"),
                (F.col("id") % 2 == 0).alias("even"))
        .select("lon", "lat", (lon + (F.rand(3) - 0.5) * 0.1).alias("cx"),
                (lat + (F.rand(4) - 0.5) * 0.1).alias("cy"), "even")
        .withColumn("ring", F.when(F.col("even"), rect).otherwise(hexagon))
        .withColumn("rect", rect_bounds_col(F.col("ring")))
        .persist()
    )
    try:
        df.count()

        def cost(expr) -> float:
            return _median_time(lambda: df.agg(F.sum(expr)).collect(), reps)

        def per_row(expr) -> float:
            return cost(expr) / N_ROWS * 1e9

        return {
            "functions.spatial.hex_cell_ns_per_row": per_row(hex_cell(lon, lat, 8)),
            "functions.spatial.pip_refine_rect_col_ns_per_pair": per_row(
                pip_refine_rect_col(lon, lat, F.col("ring"), F.col("rect")).cast("int")),
            "functions.geometry.haversine_m_ns_per_pair": per_row(haversine_m(lon, lat, cx, cy)),
        }
    finally:
        df.unpersist(blocking=True)
