"""kNN exactness where round 1 was unsound: S2 face edges and cube corners.

The wrapped 3×3 ring (cells.latlon_to_grid_ring) must make tier-1
acceptance exact across face boundaries, and cube-corner cells must
escalate instead of accepting a possibly-wrong same-face winner. Every
case is verified against a numpy brute-force oracle with the identical
(way_id-tiebroken) total order."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from wayproblems_spark.operators.cells import latlon_to_grid, latlon_to_grid_ring
from wayproblems_spark.operators.knn import (
    _ACCEPT_FACTOR,
    _BRUTE_CUTOVER,
    EARTH_RADIUS_M,
    _accept_chord2,
    knn_nearest_way,
)
from tests.test_knn_segments import ladder_fixture

# S2 face-0/1 edge runs along lon=45°; cube corners sit at lat ±35.264°,
# lon ∈ {45, 135, -45, -135}.
REGIONS = [
    (-12.0, 12.0, 43.8, 46.2),      # face edge, mid-latitudes
    (33.5, 37.0, 43.2, 46.8),       # cube corner (35.264, 45)
    (-37.0, -33.5, -136.8, -133.2), # cube corner (-35.264, -135)
]


def _mk_fixture(rng, n_ways_per_region=40, n_pts_per_region=120):
    ways = []
    wid = 1
    for la0, la1, lo0, lo1 in REGIONS:
        for _ in range(n_ways_per_region):
            la = rng.uniform(la0, la1)
            lo = rng.uniform(lo0, lo1)
            seg = [
                (float(lo), float(la)),
                (float(lo + rng.uniform(-0.02, 0.02)), float(la + rng.uniform(-0.02, 0.02))),
            ]
            ways.append((wid, [{"lon": p[0], "lat": p[1]} for p in seg]))
            wid += 1
    pts = []
    pid = 1
    for la0, la1, lo0, lo1 in REGIONS:
        for _ in range(n_pts_per_region):
            pts.append((pid, float(rng.uniform(la0, la1)), float(rng.uniform(lo0, lo1))))
            pid += 1
    # a mid-ocean straggler: no way within thousands of km → brute tier
    pts.append((pid, -44.0, -140.0))
    return ways, pts


def _brute(ways, pts):
    vw, vla, vlo = [], [], []
    for wid, geom in ways:
        for p in geom:
            vw.append(wid)
            vla.append(p["lat"])
            vlo.append(p["lon"])
    vw = np.array(vw)
    vla = np.radians(np.array(vla))
    vlo = np.radians(np.array(vlo))
    vx = np.cos(vla) * np.cos(vlo)
    vy = np.cos(vla) * np.sin(vlo)
    vz = np.sin(vla)
    out = {}
    for pid, la, lo in pts:
        pla, plo = np.radians(la), np.radians(lo)
        px, py, pz = np.cos(pla) * np.cos(plo), np.cos(pla) * np.sin(plo), np.sin(pla)
        c2 = (px - vx) ** 2 + (py - vy) ** 2 + (pz - vz) ** 2
        order = np.lexsort((vw, c2))
        k = order[0]
        out[pid] = (int(vw[k]), 2.0 * EARTH_RADIUS_M * float(np.arcsin(np.sqrt(c2[k]) / 2.0)))
    return out


def test_knn_exact_at_face_edges_and_corners(spark):
    rng = np.random.default_rng(17)
    ways, pts = _mk_fixture(rng)
    resolved = spark.createDataFrame(
        ways, "way_id long, geom array<struct<lon:double,lat:double>>"
    )
    pdf = spark.createDataFrame(pts, "point_id long, lat double, lon double")

    for level in (10, 13):
        got = {
            r["point_id"]: (r["way_id"], r["dist_m"])
            for r in knn_nearest_way(pdf, resolved, level=level).collect()
        }
        exp = _brute(ways, pts)
        assert set(got) == set(exp)
        for pid in exp:
            assert got[pid][0] == exp[pid][0], (level, pid, got[pid], exp[pid])
            assert abs(got[pid][1] - exp[pid][1]) < 1e-6 * max(1.0, exp[pid][1])


def test_knn_ladder_rungs_exact(spark):
    """The segment ladder fixture against the vertex oracle: more than
    _BRUTE_CUTOVER points escape tier 1, so the rungs run."""
    ways, pts = ladder_fixture(np.random.default_rng(5))
    resolved = spark.createDataFrame(
        ways, "way_id long, geom array<struct<lon:double,lat:double>>"
    )
    pdf = spark.createDataFrame(pts, "point_id long, lat double, lon double")
    exp = _brute(ways, pts)
    radius_m = 2.0 * EARTH_RADIUS_M * np.arcsin(
        np.sqrt(_accept_chord2(_ACCEPT_FACTOR, 12)) / 2.0
    )
    assert sum(d >= radius_m for _, d in exp.values()) > _BRUTE_CUTOVER
    got = {
        r["point_id"]: (r["way_id"], r["dist_m"])
        for r in knn_nearest_way(pdf, resolved, level=12).collect()
    }
    assert set(got) == set(exp)
    for pid in exp:
        assert got[pid][0] == exp[pid][0], (pid, got[pid], exp[pid])
        assert abs(got[pid][1] - exp[pid][1]) < 1e-6 * max(1.0, exp[pid][1])


def cutover_fixture(rng, n_far):
    """20 short ways over 50.0–50.5°N × 8.0–8.5°E, 50 points exactly on
    their vertices (distance 0: tier 1 accepts them) and ``n_far`` points
    over 50.6–50.9°N, at least 11 km from every way: far beyond either
    variant's tier-1 acceptance radius at level 12, so exactly ``n_far``
    points escape tier 1."""
    ways = []
    for wid in range(1, 21):
        la, lo = rng.uniform(50.0, 50.5), rng.uniform(8.0, 8.5)
        ways.append(
            (wid, [
                {"lon": float(lo), "lat": float(la)},
                {"lon": float(lo + rng.uniform(-0.01, 0.01)),
                 "lat": float(la + rng.uniform(-0.01, 0.01))},
            ])
        )
    pts = [
        (pid, ways[pid % 20][1][pid % 2]["lat"], ways[pid % 20][1][pid % 2]["lon"])
        for pid in range(1, 51)
    ]
    pts += [
        (pid, float(rng.uniform(50.6, 50.9)), float(rng.uniform(8.0, 8.5)))
        for pid in range(1001, 1001 + n_far)
    ]
    return ways, pts


def test_knn_cutover_boundary_exact_and_freed(spark):
    """0, _BRUTE_CUTOVER and _BRUTE_CUTOVER + 1 tier-1 escapees for both
    variants, against the numpy oracles. At or below the cut-over the
    escapees go straight to the brute tail and nothing past tier 1 is
    cached; one above it, the escapee slice is cached and the rungs run.
    Either way, unpersisting ``track_persists`` leaves no cached frame."""
    from tests.test_knn_segments import _brute as seg_brute
    from wayproblems_spark.operators.knn import (
        _SEG_ACCEPT_FACTOR,
        build_knn_index,
        knn_nearest_way_segments,
    )

    jsc = spark.sparkContext._jsc.sc()
    schema = "way_id long, geom array<struct<lon:double,lat:double>>"
    for kind, oracle, factor in (
        ("vertex", _brute, _ACCEPT_FACTOR),
        ("segment", seg_brute, _SEG_ACCEPT_FACTOR),
    ):
        radius_m = 2.0 * EARTH_RADIUS_M * np.arcsin(
            np.sqrt(_accept_chord2(factor, 12)) / 2.0
        )
        n_tracked = {}
        for n_far in (0, _BRUTE_CUTOVER, _BRUTE_CUTOVER + 1):
            ways, pts = cutover_fixture(np.random.default_rng(9), n_far)
            exp = oracle(ways, pts)
            assert sum(d >= radius_m for _, d in exp.values()) == n_far
            resolved = spark.createDataFrame(ways, schema)
            pdf = spark.createDataFrame(pts, "point_id long, lat double, lon double")
            tracked = []
            if kind == "vertex":
                prebuilt = build_knn_index(resolved, 12)
                prebuilt[1].count()
                prebuilt[2].count()
                cached_before = jsc.getPersistentRDDs().size()
                res = knn_nearest_way(
                    pdf, None, prebuilt=prebuilt, track_persists=tracked
                )
            else:
                cached_before = jsc.getPersistentRDDs().size()
                res = knn_nearest_way_segments(
                    pdf, resolved, level=12, track_persists=tracked
                )
            got = {r["point_id"]: (r["way_id"], r["dist_m"]) for r in res.collect()}
            n_tracked[n_far] = len(tracked)
            for df in tracked:
                df.unpersist()
            assert jsc.getPersistentRDDs().size() == cached_before, (kind, n_far)
            if kind == "vertex":
                prebuilt[1].unpersist()
                prebuilt[2].unpersist()
            assert set(got) == set(exp), (kind, n_far)
            for pid in exp:
                assert got[pid][0] == exp[pid][0], (kind, n_far, pid, got[pid], exp[pid])
                assert abs(got[pid][1] - exp[pid][1]) < 1e-6 * max(1.0, exp[pid][1])
        below = n_tracked[_BRUTE_CUTOVER]
        assert n_tracked[0] == below < n_tracked[_BRUTE_CUTOVER + 1], (kind, n_tracked)


def test_ring_covers_all_adjacent_cells_noncorner(spark):
    """Property stressed at face edges: a point whose cell is in p's wrapped
    ring iff within ~1 cell — specifically, any q closer than one min-edge
    must land inside the ring (soundness of the acceptance bound)."""
    rng = np.random.default_rng(3)
    level = 9
    min_edge_rad = 2.0 * np.sqrt(2.0) / 3.0 / (1 << level)
    n = 1 << level
    la = rng.uniform(-36, 36, 30000)
    lo = 45 + rng.uniform(-2, 2, 30000)  # face edge + corner band
    ang = rng.uniform(0, 2 * np.pi, la.size)
    d = rng.uniform(0, 0.95 * min_edge_rad, la.size)
    la2 = la + np.degrees(d * np.sin(ang))
    lo2 = lo + np.degrees(d * np.cos(ang) / np.maximum(np.cos(np.radians(la)), 0.05))
    rings = latlon_to_grid_ring(la, lo, level)
    own = rings[:, 4]
    gi = (own >> 29) & ((1 << 29) - 1)
    gj = own & ((1 << 29) - 1)
    corner = ((gi <= 0) | (gi >= n - 1)) & ((gj <= 0) | (gj >= n - 1))
    qcell = latlon_to_grid(la2, lo2, level)
    inring = (rings == qcell[:, None]).any(axis=1)
    viol = (~inring) & (~corner)
    assert not viol.any(), f"{viol.sum()} points within bound escaped the ring"
