"""Seeded input generators for the benchmark workloads.

Everything is generated in the single driver process with numpy and
written with pyarrow, so making the inputs starts no Spark job and no
thread beyond the ones pyarrow's writer uses. The program under test
only ever sees the parquet files written here.

Image tables follow the FIXTURES.md contract of
``gfp_gdal_spark.sources.datagen`` (same columns and per-row rules);
the workload seed offsets the id range, which moves every footprint.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gfp_gdal_spark.kernels import codec
from gfp_gdal_spark.sources import datagen

ROWS_PER_FILE = 50_000
_WS = np.array([16, 32, 64], dtype=np.int32)
_HS = np.array([16, 24, 48], dtype=np.int32)
_FMTS = np.array(["ppm", "png", "qnt"])
_HOT_LON, _HOT_LAT = 4.9, 52.37  # datagen's 1-in-97 pinned location

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
VECTOR_SCHEMA = pa.schema(
    [
        ("polygon_id", pa.int64()),
        ("ring", pa.list_(pa.list_(pa.float64()))),
        ("holes", pa.list_(pa.list_(pa.list_(pa.float64())))),
        ("name", pa.string()),
        ("category", pa.string()),
        ("valid_from", pa.date32()),
    ]
)


def _write(table: pa.Table, path: str, rows_per_file: int = ROWS_PER_FILE) -> str:
    os.makedirs(path, exist_ok=True)
    for k, start in enumerate(range(0, max(table.num_rows, 1), rows_per_file)):
        pq.write_table(table.slice(start, rows_per_file), os.path.join(path, f"part-{k:05d}.parquet"))
    return path


def image_ids(n: int, seed: int) -> np.ndarray:
    """The seed offsets the id range: seed s owns ids [s*n, (s+1)*n)."""
    return np.arange(n, dtype=np.int64) + np.int64(seed) * n


def phash_of(ids: np.ndarray) -> np.ndarray:
    """splitmix64(id), with every 97th id pinned to the hot location."""
    ph = datagen.splitmix64(ids.astype(np.uint64))
    lo = np.uint64(int((_HOT_LON + 180.0) / 360.0 * 2**32))
    hi = np.uint64(int((_HOT_LAT + 85.0) / 170.0 * 2**32))
    ph = np.where(ids % 97 == 0, (hi << np.uint64(32)) | lo, ph)
    return ph.view(np.int64)


def footprint_centers(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of functions.spatial.footprint_cols (lon_c, lat_c)."""
    u = phash.view(np.uint64)
    lon = (u & np.uint64(0xFFFFFFFF)).astype(np.float64) / 4294967296.0 * 360.0 - 180.0
    lat = ((u >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(np.float64) / 4294967296.0 * 170.0 - 85.0
    return lon, lat


def _blobs(ids: np.ndarray, w: np.ndarray, h: np.ndarray, fmt: np.ndarray) -> list[bytes]:
    out: list[bytes] = [b""] * len(ids)
    for c in range(3):
        idx = np.flatnonzero(ids % 3 == c)
        if not len(idx):
            continue
        wi, hi, f = int(w[idx[0]]), int(h[idx[0]]), str(fmt[idx[0]])
        pix = np.stack([codec.synth_pixels(int(i), wi, hi) for i in ids[idx]])
        for j, b in zip(idx, codec.encode_group(pix, f)):
            out[j] = b
    return out


def images(path: str, n: int, seed: int, with_bytes: bool) -> str:
    ids = image_ids(n, seed)
    m = ids % 3
    w, h, fmt = _WS[m], _HS[m], _FMTS[m]
    text = lambda v: pc.cast(pa.array(v), pa.string())  # noqa: E731
    join = lambda *parts: pc.binary_join_element_wise(*parts, "")  # noqa: E731
    table = pa.table(
        {
            "image_id": join("img", pc.utf8_lpad(text(ids), 8, "0")),
            "bytes": _blobs(ids, w, h, fmt) if with_bytes else pa.array([b""] * n, pa.binary()),
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": join("synthetic scene ", text(ids), " tags:", text(ids % 7), ",", text(ids % 13)),
            "phash": phash_of(ids),
        },
        schema=IMAGES_SCHEMA,
    )
    return _write(table, path)


def _polygon_table(pdf) -> pa.Table:
    return pa.Table.from_pandas(pdf, schema=VECTOR_SCHEMA, preserve_index=False)


def zones(path: str, m: int, seed: int) -> str:
    """datagen.vector_layer_zones_pandas(m, seed): city-sized k-gons."""
    return _write(_polygon_table(datagen.vector_layer_zones_pandas(m, seed)), path)


def hot_box(seed: int) -> tuple[float, float]:
    """Lower-left corner of the seed's hot 0.6 x 0.6 degree box."""
    rng = np.random.default_rng([seed, 1])
    return float(rng.uniform(-170.0, 169.0)), float(rng.uniform(-60.0, 59.0))


def skew_points(path: str, n: int, seed: int, hot_frac: float = 0.3) -> str:
    """bench.py's skew shape: ``hot_frac`` of the points fall in one
    0.6-degree box (one z8 cell's worth) and are stored first, i.e.
    contiguously in the file layout; the rest are uniform."""
    rng = np.random.default_rng([seed, 2])
    hx, hy = hot_box(seed)
    hot = np.arange(n) < int(n * hot_frac)
    u1, u2 = rng.random(n), rng.random(n)
    table = pa.table(
        {
            "image_id": np.arange(n, dtype=np.int64),
            "lon_c": np.where(hot, hx + u1 * 0.6, -178.0 + u1 * 356.0),
            "lat_c": np.where(hot, hy + u2 * 0.6, -83.0 + u2 * 166.0),
        }
    )
    return _write(table, path)


def skew_polygons(path: str, seed: int, n_zones: int = 2000, n_hot: int = 40) -> str:
    """The zone layer plus ``n_hot`` small k-gons inside the hot box."""
    import pandas as pd

    base = datagen.vector_layer_zones_pandas(n_zones, seed)
    rng = np.random.default_rng([seed, 3])
    hx, hy = hot_box(seed)
    rows = []
    for j in range(n_hot):
        cx, cy = rng.uniform(hx, hx + 0.6), rng.uniform(hy, hy + 0.6)
        rad = rng.uniform(0.05, 0.3)
        k = 3 + (j % 6)
        ang = rng.uniform(0, 2 * np.pi) + np.arange(k) * 2 * np.pi / k
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        rows.append(
            {
                "polygon_id": 100_000 + j, "ring": ring.tolist(), "holes": None,
                "name": f"hotzone_{j}", "category": "hot",
                "valid_from": pd.Timestamp("2020-01-01").date(),
            }
        )
    pdf = pd.concat([base, pd.DataFrame(rows)], ignore_index=True)
    return _write(_polygon_table(pdf), path)


# ---------------------------------------------------------------------------
# small_query_mix tables: the nation / customer / orders columns the mix
# queries and their DuckDB twins read, keyed 0..N-1 like the testdata.
# Fixed content (generator seed 0): the workload seed only orders queries.
# ---------------------------------------------------------------------------

MIX_TABLES = ("nation", "customer", "orders")
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def mix_tables(sf_dir: str, n_customer: int, n_orders: int) -> dict[str, int]:
    rng = np.random.default_rng(0)
    os.makedirs(sf_dir, exist_ok=True)
    nk = np.arange(25, dtype=np.int64)
    ck = np.arange(n_customer, dtype=np.int64)
    ok = np.arange(n_orders, dtype=np.int64)
    days = rng.integers(0, 365 * 10, n_orders)
    tables = {
        "nation": pa.table(
            {"n_nationkey": nk, "n_name": np.char.add("NATION_", nk.astype(str)), "n_regionkey": nk % 5}
        ),
        "customer": pa.table(
            {
                "c_custkey": ck,
                "c_name": np.char.add("Customer#", np.char.zfill(ck.astype(str), 9)),
                "c_nationkey": rng.integers(0, 25, n_customer),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_customer)],
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(0, n_customer, n_orders),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n_orders), 2),
                "o_orderdate": pa.array(
                    (np.datetime64("1992-01-01") + days).astype("datetime64[D]"), pa.date32()
                ),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
            }
        ),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
