"""The four workloads: inputs, one timed operation, and its output check.

``BENCHMARK.json`` lists ``pip_tile_broadcast`` and ``ingest_resume``;
``skew_salted_shuffle`` and ``small_query_mix`` run by name only, since
their runs (about 1 and 2.5 minutes) do not fit its run budget.

Each workload exposes
  ``setup(spark)``       write the seeded inputs and run one warm-up op
  ``reference(spark)``   the expected output, from another code path
  ``next_key()``         which operation runs next (a query name, or None)
  ``prepare()``          untimed cleanup before each operation
  ``op(spark, key)``     one closed-loop operation; returns its output
  ``check(...)``         does the output match the reference (untimed)
  ``rows``               input rows one pass of operations processes

Operations call the program through module attributes
(``J.pip_join``, ``P.run_north_star_resumable``, ...), so the spans the
traced run installs see every call.
"""

from __future__ import annotations

import collections
import json
import os
import random
import shutil
import sys
import time

import numpy as np

from perfbench import fixtures

N_IMAGES = 1_000_000  # pip_tile_broadcast
N_ZONES = 2000
N_SKEW = 300_000  # skew_salted_shuffle
N_INGEST = 2000  # ingest_resume (images with bytes)
MIX_CUSTOMERS, MIX_ORDERS = 1500, 15_000  # small_query_mix, sf0.01-sized
MIX_QUERIES = (
    "knn_join_ring", "connected_components", "pagerank", "bfs_hops",
    "stitch_regions", "audio_stats", "distinct_profile",
)


def _rm(*paths):
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


class Workload:
    name = ""
    rows = 0
    min_reps = 3

    def __init__(self, work, seed: int):
        self.work = work
        self.seed = seed

    def next_key(self):
        return None

    def prepare(self):
        pass

    def check(self, spark, key, out, ref) -> bool:
        return out == ref

    def op_seconds(self, dt: float, out) -> float:
        return dt

    def record(self, rec: dict, out) -> None:
        """Keep what the traced run needs from an op's output."""

    def prefixes(self, spark) -> list:
        """(layer, DataFrame cut after that layer) for prefix timing."""
        return []

    def traced_extra(self, spark, recs) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# pip_tile_broadcast
# ---------------------------------------------------------------------------

def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of functions.spatial.tile_cols."""
    n = float(1 << z)
    lat_r = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    xt = np.floor((lon + 180.0) / 360.0 * n)
    yt = np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / 3.141592653589793) / 2.0 * n)
    return (np.clip(xt, 0, n - 1).astype(np.int64), np.clip(yt, 0, n - 1).astype(np.int64))


def pip_reference(lon: np.ndarray, lat: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon row) of every point strictly inside a
    polygon, by bbox candidates + kernels.geom.points_in_polygons_indexed
    (the numpy refine, not the JVM expression the join uses)."""
    from gfp_gdal_spark.kernels import geom

    flat, offsets = geom.ragged_from_lists(list(polys["ring"]))
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    pts, rows = [], []
    for j in range(len(offsets) - 1):
        ring = flat[offsets[j] : offsets[j + 1]]
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        cand = order[np.searchsorted(slon, x0, "left") : np.searchsorted(slon, x1, "right")]
        cand = cand[(lat[cand] >= y0) & (lat[cand] <= y1)]
        pts.append(cand)
        rows.append(np.full(len(cand), j, dtype=np.int64))
    pt, row = np.concatenate(pts), np.concatenate(rows)
    hole_rings, hole_poly = [], []
    for j, hs in enumerate(polys["holes"]):
        for h in hs if hs is not None else []:
            hole_rings.append(h)
            hole_poly.append(j)
    hflat, hoff = geom.ragged_from_lists(hole_rings)
    inside = geom.points_in_polygons_indexed(
        lon[pt], lat[pt], row, flat, offsets, hflat, hoff, np.asarray(hole_poly, dtype=np.int64)
    )
    return pt[inside], row[inside]


class PipTileBroadcast(Workload):
    name = "pip_tile_broadcast"
    rows = N_IMAGES

    def setup(self, spark):
        _rm(self.work.path("images"), self.work.path("zones"))
        self.images = fixtures.images(self.work.path("images"), N_IMAGES, self.seed, with_bytes=False)
        self.zones = fixtures.zones(self.work.path("zones"), N_ZONES, self.seed)
        self.op(spark)

    def prefixes(self, spark):
        """The pipeline cut after each layer, in order."""
        from gfp_gdal_spark.functions import spatial
        from gfp_gdal_spark.operators import joins as J
        from gfp_gdal_spark.sources import io

        imgs = io.read_images(spark, self.images)
        pts = spatial.with_footprint(imgs)
        joined = J.pip_join(pts.select("image_id", "lon_c", "lat_c"), spark.read.parquet(self.zones),
                            z=8, broadcast=True)
        tiled = J.tile_assign(joined, z=12)
        return [("sources.read", imgs), ("functions.spatial.with_footprint", pts),
                ("operators.joins.pip_join", joined), ("operators.joins.tile_assign", tiled)]

    def op(self, spark, key=None, tracer=None):
        from pyspark.sql import functions as F

        tiled = self.prefixes(spark)[-1][1]
        return tiled.groupBy("category", "tile_z", "tile_x", "tile_y").agg(
            F.count(F.lit(1)).alias("n")
        ).toPandas()

    def check(self, spark, key, out, ref) -> bool:
        got = zip(out["category"], out["tile_z"], out["tile_x"], out["tile_y"], out["n"])
        return {(c, int(z), int(x), int(y)): int(n) for c, z, x, y, n in got} == ref

    def reference(self, spark):
        from gfp_gdal_spark.sources import datagen

        lon, lat = fixtures.footprint_centers(fixtures.phash_of(fixtures.image_ids(N_IMAGES, self.seed)))
        polys = datagen.vector_layer_zones_pandas(N_ZONES, self.seed)
        pt, row = pip_reference(lon, lat, polys)
        tx, ty = tile_xy(lon[pt], lat[pt], 12)
        cat = polys["category"].to_numpy()[row]
        return dict(collections.Counter(zip(cat.tolist(), [12] * len(pt), tx.tolist(), ty.tolist())))

    def candidates_job(self, spark):
        from pyspark.sql import functions as F

        return self.prefixes(spark)[2][1].agg(F.count(F.lit(1))).collect()


# ---------------------------------------------------------------------------
# skew_salted_shuffle
# ---------------------------------------------------------------------------

class SkewSaltedShuffle(Workload):
    name = "skew_salted_shuffle"
    rows = N_SKEW

    def setup(self, spark):
        _rm(self.work.path("skew_pts"), self.work.path("skew_polys"))
        self.pts = fixtures.skew_points(self.work.path("skew_pts"), N_SKEW, self.seed)
        self.polys = fixtures.skew_polygons(self.work.path("skew_polys"), self.seed)
        self.op(spark)

    def join(self, spark, salt):
        from gfp_gdal_spark.operators import joins as J

        return J.pip_join(spark.read.parquet(self.pts), spark.read.parquet(self.polys),
                          z=8, broadcast=False, salt=salt)

    @staticmethod
    def _summary(df):
        from pyspark.sql import functions as F

        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64("image_id", "polygon_id")).alias("h")).collect()[0]
        return (int(r.n), int(r.h or 0))

    def op(self, spark, key=None, tracer=None):
        return self._summary(self.join(spark, "auto"))

    def prefixes(self, spark):
        return [("operators.joins.pip_join", self.join(spark, "auto"))]

    def reference(self, spark):
        """The unsalted join's (rows, checksum), cached per seed."""
        path = os.path.join(self.work.cache, f"skew_{N_SKEW}_{self.seed}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        ref = self._summary(self.join(spark, None))
        with open(path, "w") as fh:
            json.dump(list(ref), fh)
        return ref

    def candidates_job(self, spark):
        return self.op(spark)


# ---------------------------------------------------------------------------
# ingest_resume
# ---------------------------------------------------------------------------

# the op: one bucket per group, killed after the first group, resumed;
# the warm-up writes both buckets in one group (same rows, one job less)
N_BUCKETS, BUCKETS_PER_JOB, FAIL_AFTER = 2, 1, 1


def _parquet_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def _manifest_buckets(path: str) -> list[int]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    return pq.read_table(path, columns=["bucket"]).column("bucket").to_pylist()


class IngestResume(Workload):
    name = "ingest_resume"
    rows = N_INGEST
    min_reps = 1

    def setup(self, spark):
        """Inputs, then one uninterrupted run as the warm-up; its output
        is the reference the resumed runs must reproduce."""
        _rm(self.work.path("ingest_images"), self.work.path("zones"))
        self.images = fixtures.images(self.work.path("ingest_images"), N_INGEST, self.seed, with_bytes=True)
        self.zones = fixtures.zones(self.work.path("zones"), N_ZONES, self.seed)
        self.out, self.manifest = self.work.path("ingest_out"), self.work.path("ingest_manifest")
        self.ref_out, ref_manifest = self.work.path("ingest_ref_out"), self.work.path("ingest_ref_manifest")
        _rm(self.ref_out, ref_manifest)
        self._run(spark, self.ref_out, ref_manifest, buckets_per_job=N_BUCKETS)

    def prepare(self):
        _rm(self.out, self.manifest)

    def _run(self, spark, out, manifest, fail_after=None, buckets_per_job=BUCKETS_PER_JOB):
        from gfp_gdal_spark import pipelines as P

        return P.run_north_star_resumable(
            spark, self.images, spark.read.parquet(self.zones), out, manifest,
            n_buckets=N_BUCKETS, buckets_per_job=buckets_per_job, fail_after=fail_after,
        )

    def op(self, spark, key=None, tracer=None):
        """Kill after FAIL_AFTER bucket groups, then resume. Returns the
        timings and the bucket accounting; the output stays on disk."""
        t0 = time.perf_counter()
        try:
            self._run(spark, self.out, self.manifest, fail_after=FAIL_AFTER)
            raise RuntimeError("fail_after did not stop the run")
        except RuntimeError as e:
            if "simulated failure" not in str(e):
                raise
        killed_s = time.perf_counter() - t0
        missing = N_BUCKETS - len(set(_manifest_buckets(self.manifest)))
        t1, t1_wall = time.perf_counter(), time.time()
        if tracer is not None:
            tracer.resuming = True
        try:
            self._run(spark, self.out, self.manifest)
        finally:
            if tracer is not None:
                tracer.resuming = False
        resume_s = time.perf_counter() - t1
        written = sum(
            1 for b in range(N_BUCKETS)
            if any(os.path.getmtime(os.path.join(self.out, f"bucket={b}", f)) >= t1_wall
                   for f in os.listdir(os.path.join(self.out, f"bucket={b}")) if f.endswith(".parquet"))
        ) if os.path.isdir(self.out) else 0
        return {"wall_s": killed_s + resume_s, "resume_s": resume_s,
                "recomputed_frac": written / missing if missing else 0.0}

    @staticmethod
    def _summary(spark, out):
        from pyspark.sql import functions as F

        r = spark.read.parquet(out).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("image_id", "polygon_id", "tile_x", "tile_y", "hex_cell",
                             "s2_cell", "ahash", "psnr_ok")).alias("h"),
        ).collect()[0]
        return int(r.n), int(r.h or 0)

    def op_seconds(self, dt, out):
        return out["wall_s"] if out else dt

    def record(self, rec, out):
        rec.update(resume_s=out["resume_s"], recomputed_frac=out["recomputed_frac"])

    def check(self, spark, key, out, ref) -> bool:
        """The resumed output equals an uninterrupted run (rows and an
        order-independent checksum) and the manifest lists every bucket
        exactly once."""
        counts = collections.Counter(_manifest_buckets(self.manifest))
        once = sorted(counts) == list(range(N_BUCKETS)) and set(counts.values()) == {1}
        return once and self._summary(spark, self.out) == ref

    def prefixes(self, spark):
        from gfp_gdal_spark import pipelines as P

        return [("pipelines.decode_and_hash", P.decode_and_hash(spark.read.parquet(self.images)))]

    def traced_extra(self, spark, recs):
        """Output size of the last op (still on disk) and the median
        share of missing buckets the resumes wrote."""
        rows = self._summary(spark, self.out)[0]
        fracs = [r["recomputed_frac"] for r in recs if "recomputed_frac" in r]
        return {
            "plans.lineage.run_bucketed.output_bytes_per_row": _parquet_bytes(self.out) / rows if rows else 0.0,
            "plans.lineage.resume.recomputed_frac": float(np.median(fracs)) if fracs else 0.0,
        }

    def reference(self, spark):
        """(rows, checksum) of the uninterrupted warm-up run."""
        return self._summary(spark, self.ref_out)


# ---------------------------------------------------------------------------
# small_query_mix
# ---------------------------------------------------------------------------

# tables each query scans, for rows_per_s
_MIX_INPUTS = {
    "knn_join_ring": ("nation", "orders"),
    "connected_components": ("orders",),
    "pagerank": ("customer",),
    "bfs_hops": ("customer",),
    "stitch_regions": ("customer",),
    "audio_stats": ("customer",),
    "distinct_profile": ("orders",),
}


def _oracle_compare():
    """tools/check_oracles.compare, the repo's own oracle comparison."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class SmallQueryMix(Workload):
    name = "small_query_mix"
    min_reps = len(MIX_QUERIES)

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.order = list(MIX_QUERIES)
        random.Random(seed).shuffle(self.order)
        self._next = 0

    def setup(self, spark):
        import __spark_entry__ as E

        self.sf_dir = self.work.path("sf")
        warm_dir = self.work.path("sf_warm")
        _rm(self.sf_dir, warm_dir)
        n = fixtures.mix_tables(self.sf_dir, MIX_CUSTOMERS, MIX_ORDERS)
        self.rows = sum(n[t] for q in MIX_QUERIES for t in _MIX_INPUTS[q])
        self.queries = E.queries()
        # warm-up on a 1/10-size copy: loads the classes, codegen and
        # Python workers every query uses, at a fraction of the cost
        fixtures.mix_tables(warm_dir, MIX_CUSTOMERS // 10, MIX_ORDERS // 10)
        for q in MIX_QUERIES:
            self.queries[q](spark, warm_dir).toPandas()
        self._next = 0

    def next_key(self) -> str:
        q = self.order[self._next % len(self.order)]
        self._next += 1
        return q

    def op(self, spark, key=None, tracer=None):
        return self.queries[key](spark, self.sf_dir).toPandas()

    def check(self, spark, key, out, ref) -> bool:
        verdict = self.compare(key, out, ref[key])
        if verdict != "OK":
            print(f"[perfbench] {key}: {verdict}", file=sys.stderr)
        return verdict == "OK"

    def reference(self, spark):
        """Each query's DuckDB oracle_sql() result on the same parquet."""
        import duckdb

        import __spark_entry__ as E

        self.compare = _oracle_compare()
        con = duckdb.connect()
        try:
            for t in fixtures.MIX_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            oracles = E.oracle_sql()
            return {q: con.execute(oracles[q]).df() for q in MIX_QUERIES}
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (PipTileBroadcast, SkewSaltedShuffle, IngestResume, SmallQueryMix)}
