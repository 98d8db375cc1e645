"""asof_join / interval_join / spatial_range_join vs brute-force oracles.

asof: pandas.merge_asof is the canonical reference implementation
(directions, inclusivity, tolerance). interval: pandas brute filter.
spatial: numpy all-pairs chord distance — the same oracle style as
tests/test_knn_faces.py, including a face-edge population.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wayproblems_spark.operators.knn import EARTH_RADIUS_M
from wayproblems_spark.operators.spatial_join import (
    _registered,
    cell_min_edge_m,
    level_for_radius,
    spatial_range_join,
)
from wayproblems_spark.operators.temporal import asof_join, interval_join

T0 = dt.datetime(2024, 1, 1)


def _ts(seconds: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


def _mk_events(n, key_mod, stride, salt):
    # deterministic irregular timestamps, multiple keys, no duplicate ts
    return [
        (i, i % key_mod, _ts(i * stride + (i * salt) % 7), float(i * 3 % 11))
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        _mk_events(300, 5, 13, 3), "l_id long, k long, ts timestamp, lv double"
    )
    right = spark.createDataFrame(
        _mk_events(120, 5, 31, 5), "r_id long, k long, ts timestamp, rv double"
    )
    return left, right


def _pd_asof(left, right, direction, tolerance_s=None):
    lp = left.toPandas().sort_values("ts").reset_index(drop=True)
    rp = right.toPandas().sort_values("ts").reset_index(drop=True)
    kw = {}
    if tolerance_s is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance_s)
    m = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        suffixes=("", "_r"), **kw,
    )
    return m.sort_values("l_id").reset_index(drop=True)


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_matches_pandas(frames, direction):
    left, right = frames
    got = (
        asof_join(left, right, on="k", left_ts="ts", direction=direction,
                  right_cols=["r_id", "rv"])
        .orderBy("l_id")
        .toPandas()
    )
    exp = _pd_asof(left, right, direction)
    assert list(got["l_id"]) == list(exp["l_id"])
    for col in ("r_id", "rv"):
        g, e = got[col], exp[col]
        assert g.isna().equals(e.isna()), col
        assert (g.dropna().values == e.dropna().values).all(), col


def test_asof_tolerance(frames):
    left, right = frames
    got = (
        asof_join(left, right, on="k", left_ts="ts", direction="backward",
                  tolerance_s=120, right_cols=["r_id"])
        .orderBy("l_id")
        .toPandas()
    )
    exp = _pd_asof(left, right, "backward", tolerance_s=120)
    assert got["r_id"].isna().equals(exp["r_id"].isna())
    assert (got["r_id"].dropna().values == exp["r_id"].dropna().values).all()
    # tolerance actually bites on this fixture
    loose = _pd_asof(left, right, "backward")
    assert exp["r_id"].isna().sum() > loose["r_id"].isna().sum()


def test_asof_inclusive_and_keyless(spark):
    # equal timestamps match in both directions (inclusive, like merge_asof)
    left = spark.createDataFrame(
        [(1, _ts(100))], "l_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, _ts(100), 2.5)], "r_id long, ts timestamp, rv double"
    )
    for direction in ("backward", "forward"):
        out = asof_join(left, right, on=None, direction=direction).collect()
        assert out[0]["r_id"] == 7 and out[0]["matched_ts"] == _ts(100)


def test_asof_tie_col(spark):
    # duplicate (key, ts) on the right: largest tie_col value wins
    left = spark.createDataFrame([(1, 0, _ts(50))], "l_id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(10, 0, _ts(40), 1.0), (11, 0, _ts(40), 9.0), (12, 0, _ts(40), 4.0)],
        "r_id long, k long, ts timestamp, rv double",
    )
    out = asof_join(left, right, on="k", tie_col="rv").collect()
    assert out[0]["r_id"] == 11


def _pd_interval(left, right, closed):
    lp, rp = left.toPandas(), right.toPandas()
    m = lp.merge(rp, on="k", suffixes=("", "_r"))
    if closed == "both":
        m = m[(m.ts >= m.start) & (m.ts <= m.end)]
    elif closed == "left":
        m = m[(m.ts >= m.start) & (m.ts < m.end)]
    else:
        m = m[(m.ts > m.start) & (m.ts <= m.end)]
    return set(zip(m.l_id, m.iv_id))


@pytest.mark.parametrize("closed", ["both", "left", "right"])
def test_interval_join(spark, closed):
    left = spark.createDataFrame(
        [(i, i % 4, _ts(i * 9)) for i in range(240)],
        "l_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (j, j % 4, _ts(j * 53), _ts(j * 53 + (j % 5) * 40))
            for j in range(40)
        ],
        "iv_id long, k long, start timestamp, end timestamp",
    )
    got = interval_join(
        left, right, on="k", left_ts="ts", start_col="start", end_col="end",
        bucket_width_s=60, closed=closed,
    )
    got_pairs = {(r["l_id"], r["iv_id"]) for r in got.collect()}
    assert got_pairs == _pd_interval(left, right, closed)
    # boundary rows exist on this fixture so the closed modes differ
    if closed != "both":
        assert got_pairs != _pd_interval(left, right, "both")


def test_interval_join_left(spark):
    left = spark.createDataFrame(
        [(i, 0, _ts(i * 1000)) for i in range(6)], "l_id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, 0, _ts(900), _ts(1100))], "iv_id long, k long, start timestamp, end timestamp"
    )
    out = interval_join(
        left, right, on="k", bucket_width_s=60, how="left", left_id="l_id"
    ).orderBy("l_id").collect()
    assert len(out) == 6
    assert [r["iv_id"] for r in out] == [None, 1, None, None, None, None]
    with pytest.raises(ValueError):
        interval_join(left, right, on="k", how="left")


# --- spatial -------------------------------------------------------------


def _brute_pairs(lat, lon, radius_m):
    rl, rn = np.radians(lat), np.radians(lon)
    x = np.cos(rl) * np.cos(rn)
    y = np.cos(rl) * np.sin(rn)
    z = np.sin(rl)
    d2 = (
        (x[:, None] - x[None, :]) ** 2
        + (y[:, None] - y[None, :]) ** 2
        + (z[:, None] - z[None, :]) ** 2
    )
    thr = (2.0 * math.sin(radius_m / (2.0 * EARTH_RADIUS_M))) ** 2
    i, j = np.where(np.triu(d2 <= thr, k=1))
    return {(int(a), int(b)) for a, b in zip(i, j)}


def _cluster_points(n):
    """Deterministic clustered points incl. a face-edge band (lon ±180)
    and a polar band — the wrap paths get real traffic."""
    i = np.arange(n)
    lat = np.where(
        i % 3 == 0, 75.0 + (i % 40) * 0.08,          # polar band
        np.where(i % 3 == 1, (i % 50) * 0.05,         # equatorial cluster
                 -30.0 + (i % 60) * 0.04)
    )
    lon = np.where(
        i % 3 == 0, 179.2 + (i % 25) * 0.07,          # antimeridian band
        np.where(i % 3 == 1, 10.0 + (i % 45) * 0.06,
                 -120.0 + (i % 55) * 0.05)
    )
    lon = ((lon + 180.0) % 360.0) - 180.0
    return lat.astype(float), lon.astype(float)


def test_level_for_radius():
    for r in (100.0, 5_000.0, 25_000.0, 400_000.0):
        lvl = level_for_radius(r)
        assert cell_min_edge_m(lvl) >= r
        assert cell_min_edge_m(lvl + 1) < r or lvl == 28


def test_range_join_self_vs_brute(spark):
    lat, lon = _cluster_points(400)
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(len(lat))],
        "id long, lat double, lon double",
    )
    radius = 15_000.0
    got = spatial_range_join(df, radius)
    pairs = {(r["id1"], r["id2"]) for r in got.collect()}
    assert pairs == _brute_pairs(lat, lon, radius)
    assert len(pairs) > 100  # fixture produces real pair volume
    # distances match the numpy great-circle recompute
    rows = got.orderBy("id1", "id2").limit(50).collect()
    for r in rows:
        a, b = r["id1"], r["id2"]
        c2 = (
            sum(
                (u - v) ** 2
                for u, v in zip(_xyz(lat[a], lon[a]), _xyz(lat[b], lon[b]))
            )
        )
        exp = 2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(c2) / 2.0)
        assert abs(r["dist_m"] - exp) < 1e-6


def _xyz(lat, lon):
    rl, rn = math.radians(lat), math.radians(lon)
    return (
        math.cos(rl) * math.cos(rn),
        math.cos(rl) * math.sin(rn),
        math.sin(rl),
    )


def test_range_join_two_table(spark):
    lat, lon = _cluster_points(300)
    pts = [(int(i), float(lat[i]), float(lon[i])) for i in range(len(lat))]
    df_l = spark.createDataFrame(pts[::2], "id long, lat double, lon double")
    df_r = spark.createDataFrame(
        pts[1::2], "rid long, lat double, lon double"
    )
    radius = 12_000.0
    got = spatial_range_join(df_l, radius, right=df_r, right_id_col="rid")
    pairs = {(r["id"], r["rid"]) for r in got.collect()}
    brute = _brute_pairs(lat, lon, radius)
    exp = {
        (a, b) for a, b in (brute | {(b, a) for a, b in brute})
        if a % 2 == 0 and b % 2 == 1
    }
    assert pairs == exp


def test_range_join_corner_residents_vs_brute(spark):
    """Points clustered AT a cube corner (lat=asin(1/√3)≈35.264°,
    lon=45°): some land in corner cells, whose residents the static
    round-7 plan always routes through the brute tail (no per-call
    corner-census job). Pairs must still match brute force exactly."""
    import numpy as np

    corner_lat = math.degrees(math.asin(1.0 / math.sqrt(3.0)))
    i = np.arange(120)
    lat = corner_lat + ((i % 11) - 5) * 0.01
    lon = 45.0 + ((i // 11) - 5) * 0.012
    df = spark.createDataFrame(
        [(int(k), float(lat[k]), float(lon[k])) for k in i],
        "id long, lat double, lon double",
    )
    radius = 2_500.0
    got = spatial_range_join(df, radius)
    pairs = {(r["id1"], r["id2"]) for r in got.collect()}
    assert pairs == _brute_pairs(lat, lon, radius)
    assert len(pairs) > 50


def test_corner_drop_folds_longitude(spark):
    """A point given as lon=315 sits in the same cell as lon=-45 (the
    encode is periodic), so it must register in the same cells — in
    particular be dropped as a corner resident — as its folded twin."""
    corner_lat = math.degrees(math.asin(1.0 / math.sqrt(3.0)))
    pts = [
        (k, corner_lat + ((k % 5) - 2) * 0.02 + 0.007, -45.0 + ((k // 5) - 2) * 0.02 + 0.01)
        for k in range(25)
    ]

    def cells(shift):
        df = spark.createDataFrame(
            [(k, lat, lon + shift) for k, lat, lon in pts],
            "id long, lat double, lon double",
        )
        reg = _registered(df, "id", "lat", "lon", 12, ring=True,
                          drop_corner_residents=True)
        out = {}
        for r in reg.collect():
            out.setdefault(r["_id"], set()).add(r["cell"])
        return out

    base = cells(0.0)
    assert 0 < len(base) < len(pts)  # some points are corner residents
    assert cells(360.0) == base


def test_range_join_level_guard(spark):
    df = spark.createDataFrame([(0, 0.0, 0.0)], "id long, lat double, lon double")
    with pytest.raises(ValueError):
        spatial_range_join(df, 50_000.0, level=12)  # min-edge at 12 ≈ 1.5km
