"""Segment-distance kNN vs a numpy point-to-arc oracle — including LONG
segments that cross cells far from both endpoints (the exact case a
vertex-only candidate registration silently misses)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from wayproblems_spark.operators.knn import (
    _BRUTE_CUTOVER,
    _SEG_ACCEPT_FACTOR,
    EARTH_RADIUS_M,
    _accept_chord2,
    knn_nearest_way_segments,
)


def _xyz(lat, lon):
    la, lo = np.radians(lat), np.radians(lon)
    return np.array([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)])


def _seg_chord2(p, a, b):
    n = np.cross(a, b)
    nn2 = float(n @ n)
    end = min(float((p - a) @ (p - a)), float((p - b) @ (p - b)))
    if nn2 <= 1e-24:
        return end
    within = float(np.cross(a, p) @ n) >= 0 and float(np.cross(p, b) @ n) >= 0
    if not within:
        return end
    s = float(p @ n) / np.sqrt(nn2)
    return min(2.0 - 2.0 * np.sqrt(max(0.0, 1.0 - s * s)), end)


def _mk(rng):
    ways = []
    wid = 1
    # short local segments
    for _ in range(60):
        la = rng.uniform(49, 52)
        lo = rng.uniform(7, 10)
        ways.append(
            (wid, [
                {"lon": float(lo), "lat": float(la)},
                {"lon": float(lo + rng.uniform(-0.01, 0.01)),
                 "lat": float(la + rng.uniform(-0.01, 0.01))},
            ])
        )
        wid += 1
    # LONG segments (~100-300 km) slicing through the region: their interiors
    # pass near points far from either endpoint
    for _ in range(8):
        la = rng.uniform(49, 52)
        lo = rng.uniform(7, 10)
        ways.append(
            (wid, [
                {"lon": float(lo - rng.uniform(1.0, 2.0)), "lat": float(la - rng.uniform(0.5, 1.0))},
                {"lon": float(lo + rng.uniform(1.0, 2.0)), "lat": float(la + rng.uniform(0.5, 1.0))},
            ])
        )
        wid += 1
    pts = [
        (pid, float(rng.uniform(49, 52)), float(rng.uniform(7, 10)))
        for pid in range(1, 181)
    ]
    return ways, pts


def ladder_fixture(rng):
    """40 short two-vertex ways and 600 points spread over 49–52°N ×
    7–10°E: at level 12 most points sit farther from every way than the
    tier-1 acceptance radius, so more than _BRUTE_CUTOVER escape and the
    ladder rungs run before the brute tail."""
    ways = []
    for wid in range(1, 41):
        la = rng.uniform(49, 52)
        lo = rng.uniform(7, 10)
        ways.append(
            (wid, [
                {"lon": float(lo), "lat": float(la)},
                {"lon": float(lo + rng.uniform(-0.02, 0.02)),
                 "lat": float(la + rng.uniform(-0.02, 0.02))},
            ])
        )
    pts = [
        (pid, float(rng.uniform(49, 52)), float(rng.uniform(7, 10)))
        for pid in range(1, 601)
    ]
    return ways, pts


def _brute(ways, pts):
    segs = []
    for wid, geom in ways:
        for a, b in zip(geom, geom[1:]):
            segs.append((wid, _xyz(a["lat"], a["lon"]), _xyz(b["lat"], b["lon"])))
    out = {}
    for pid, la, lo in pts:
        p = _xyz(la, lo)
        best = None
        for wid, a, b in segs:
            c2 = _seg_chord2(p, a, b)
            key = (c2, wid)
            if best is None or key < best:
                best = key
        out[pid] = (best[1], 2.0 * EARTH_RADIUS_M * float(np.arcsin(np.sqrt(best[0]) / 2.0)))
    return out


def test_segment_knn_exact_vs_oracle(spark):
    ladder = ladder_fixture(np.random.default_rng(5))
    # the ladder fixture drives the rungs, not only the brute tail: every
    # point beyond the tier-1 acceptance radius escapes tier 1
    radius_m = 2.0 * EARTH_RADIUS_M * np.arcsin(
        np.sqrt(_accept_chord2(_SEG_ACCEPT_FACTOR, 12)) / 2.0
    )
    far = sum(d >= radius_m for _, d in _brute(*ladder).values())
    assert far > _BRUTE_CUTOVER
    for (ways, pts), levels in (
        (_mk(np.random.default_rng(23)), (10, 12)),
        (ladder, (12,)),
    ):
        resolved = spark.createDataFrame(
            ways, "way_id long, geom array<struct<lon:double,lat:double>>"
        )
        pdf = spark.createDataFrame(pts, "point_id long, lat double, lon double")
        exp = _brute(ways, pts)
        for level in levels:
            got = {
                r["point_id"]: (r["way_id"], r["dist_m"])
                for r in knn_nearest_way_segments(pdf, resolved, level=level).collect()
            }
            assert set(got) == set(exp)
            for pid in exp:
                assert got[pid][0] == exp[pid][0], (level, pid, got[pid], exp[pid])
                assert abs(got[pid][1] - exp[pid][1]) < 1e-6 * max(1.0, exp[pid][1])


def test_segment_knn_beats_vertex_distance(spark):
    """A point near the middle of a long segment: segment distance ≈ 0
    while both endpoints are far — the operator must return the arc
    distance, not the vertex distance."""
    resolved = spark.createDataFrame(
        [(5, [{"lon": 8.0, "lat": 50.0}, {"lon": 10.0, "lat": 50.0}])],
        "way_id long, geom array<struct<lon:double,lat:double>>",
    )
    pdf = spark.createDataFrame(
        [(1, 50.0005, 9.0)], "point_id long, lat double, lon double"
    )
    r = knn_nearest_way_segments(pdf, resolved, level=12).collect()[0]
    assert r["way_id"] == 5
    # arc passes within ~100 m (long-segment great circle bows poleward);
    # both endpoints are ~70 km away
    assert r["dist_m"] < 5000, r["dist_m"]
