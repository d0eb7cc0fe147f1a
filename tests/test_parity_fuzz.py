"""Randomized end-to-end parity fuzz (fixed seeds, budgeted):

- knn_join's k-ring certification path vs numpy brute force across
  antimeridian clusters, polar bands, duplicate points, and ties;
- pip_join across ALL bucket schemes (tile broadcast/shuffle, hex, s2,
  salted) vs an independent ray-cast oracle on star polygons w/ holes.

These are the CI-sized versions of the 60/25-iteration sweeps run in
round 4 (0 failures); seeds are pinned so failures reproduce.
"""

import numpy as np
import pandas as pd
import pytest

from gfp_gdal_spark.operators import joins as J


def _haversine(lon1, lat1, lon2, lat2):
    r = 6371008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (
        np.sin(np.radians(lat2 - lat1) / 2) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * r * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _raycast(plon, plat, ring):
    """All points vs one ring — independent half-open ray cast."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    px, py = plon[:, None], plat[:, None]
    straddle = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    hit = straddle & (px < xint)
    return (hit.sum(axis=1) & 1).astype(bool)


def _star(rng, n, cx, cy, rmax, rmin_frac=0.3):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    if len(np.unique(ang)) < 3:
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = rng.uniform(rmax * rmin_frac, rmax, n)
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)


@pytest.mark.parametrize("it", range(8))
def test_knn_ring_parity_fuzz(spark, it):
    rng = np.random.default_rng(1000 + it)
    mode = it % 4
    if mode == 0:
        lon0, lat0, spread = rng.uniform(-150, 150), rng.uniform(-40, 40), 2.0
    elif mode == 1:  # antimeridian cluster
        lon0, lat0, spread = float(rng.choice([179.7, -179.7])), rng.uniform(-60, 60), 1.5
    elif mode == 2:  # high-latitude band
        lon0, lat0, spread = rng.uniform(-150, 150), float(rng.choice([82.0, -82.0])), 1.5
    else:  # sparse wide (auto-res short-circuits to brute force)
        lon0, lat0, spread = rng.uniform(-100, 100), rng.uniform(-50, 50), 40.0
    nq, npts, k = 5, int(rng.integers(60, 250)), int(rng.integers(1, 5))
    qlon = ((lon0 + rng.uniform(-spread, spread, nq) + 180) % 360) - 180
    qlat = np.clip(lat0 + rng.uniform(-spread, spread, nq), -88, 88)
    plon = ((lon0 + rng.uniform(-spread * 1.5, spread * 1.5, npts) + 180) % 360) - 180
    plat = np.clip(lat0 + rng.uniform(-spread * 1.5, spread * 1.5, npts), -88, 88)
    if it % 3 == 0:  # duplicate points -> distance ties
        h = npts // 4
        plon[:h] = plon[h : 2 * h]
        plat[:h] = plat[h : 2 * h]
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": range(nq), "q_lon": qlon, "q_lat": qlat})
    )
    p = spark.createDataFrame(
        pd.DataFrame({"point_id": range(npts), "lon_c": plon, "lat_c": plat})
    )
    got = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in J.knn_join(q, p, k=k, res="auto", kring=2, max_rounds=2).collect()
    }
    d = _haversine(qlon[:, None], qlat[:, None], plon[None, :], plat[None, :])
    want = {}
    for i in range(nq):
        order = np.lexsort((np.arange(npts), d[i]))
        for rk in range(min(k, npts)):
            want[(i, rk + 1)] = int(order[rk])
    assert set(got) == set(want)
    for key in want:
        if got[key] != want[key]:  # equal-distance tie: either point is right
            i = key[0]
            assert np.isclose(d[i, got[key]], d[i, want[key]], rtol=0, atol=1e-9), key


@pytest.mark.parametrize(
    "it,variant",
    [
        (0, dict(z=6, broadcast=True)),
        (1, dict(z=6, broadcast=False)),
        (2, dict(bucket="hex", res=4, broadcast=True)),
        (3, dict(bucket="s2", res=8, broadcast=True)),
        (4, dict(z=6, broadcast=False, salt=4)),
        (5, dict(z=6, broadcast=True)),          # high-latitude band north
        (6, dict(bucket="hex", res=4, broadcast=True)),  # high-lat, hex
        (7, dict(bucket="s2", res=8, broadcast=True)),   # high-lat south, s2
        (8, dict(z="auto", broadcast=True)),
    ],
)
def test_pip_join_parity_fuzz(spark, it, variant):
    rng = np.random.default_rng(2000 + it)
    npolys, npts = int(rng.integers(4, 10)), int(rng.integers(150, 400))
    if it >= 5:  # polar bands: cover/clamp edges the mid-lat draw misses
        lon0 = rng.uniform(-140, 140)
        lat0 = 76.0 if it < 7 else -76.0
    else:
        lon0, lat0 = rng.uniform(-140, 140), rng.uniform(-55, 55)
    rows, rings, holes_list = [], [], []
    for j in range(npolys):
        cx, cy = lon0 + rng.uniform(-8, 8), lat0 + rng.uniform(-6, 6)
        ring = _star(rng, int(rng.integers(3, 9)), cx, cy, rng.uniform(0.5, 3.0))
        hole = _star(rng, 4, cx, cy, 0.2) if rng.random() < 0.4 else None
        rows.append(
            {
                "polygon_id": j,
                "ring": ring.tolist(),
                "holes": [hole.tolist()] if hole is not None else None,
            }
        )
        rings.append(ring)
        holes_list.append(hole)
    plon = lon0 + rng.uniform(-10, 10, npts)
    plat = np.clip(lat0 + rng.uniform(-8, 8, npts), -85, 85)
    # hostile points, after the clip so every variant sees them: NaN, +-inf
    # and +-1e300 in each coordinate (the reference puts them in no polygon)
    bad = [np.nan, np.inf, -np.inf, 1e300, -1e300]
    plon = np.concatenate([plon, bad, np.full(len(bad), lon0), [np.nan]])
    plat = np.concatenate([plat, np.full(len(bad), lat0), bad, [np.nan]])
    npts = len(plon)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": range(npts), "lon_c": plon, "lat_c": plat})
    )
    polys = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="polygon_id long, ring array<array<double>>, holes array<array<array<double>>>",
    )
    want = set()
    for j in range(npolys):
        inside = _raycast(plon, plat, rings[j])
        if holes_list[j] is not None:
            inside = inside & ~_raycast(plon, plat, holes_list[j])
        for i in np.flatnonzero(inside):
            want.add((int(i), j))
    got = {
        (r["point_id"], r["polygon_id"]) for r in J.pip_join(pts, polys, **variant).collect()
    }
    assert got == want
