"""Randomized property test for point-in-polygon: the cell cover and the
bbox prefilter (±2·EPS slack) may drop only (point, polygon) pairs that
the exact ray cast would reject anyway.

Random convex, concave (star-shaped), holed and antimeridian-crossing
polygons; points drawn uniformly around each polygon, on its edges, on
its vertices, and just inside / outside the slack band at each side of
its bbox. The oracle is a numpy even-odd ray cast over EVERY (point,
polygon) pair — no cover, no bbox — with the boundary counted inside,
in the same arithmetic as the operator. The operator must equal it on
all three build paths: driver-built prebuilt index, distributed
prebuilt index, and the one-shot call."""

from __future__ import annotations

import numpy as np
import pytest

from wayproblems_spark.operators.pip import (
    EPS,
    build_pip_index,
    point_in_polygon,
    unpersist_pip_index,
)

LEVEL = 9
POLY_DDL = (
    "poly_id long, kind string, ring array<struct<lon:double,lat:double>>, "
    "holes array<array<struct<lon:double,lat:double>>>"
)


def _wrap_lon(x: float) -> float:
    return x - 360.0 if x >= 180.0 else x


def _ring(rng, cx, cy, radius, k, convex):
    """Closed star-shaped ring around (cx, cy) in continuous lon space:
    evenly spread angles with jitter, so every angular gap is < 180°;
    equal radii give a convex ring, random radii a concave one."""
    ang = (np.arange(k) + rng.uniform(-0.3, 0.3, k)) * (2 * np.pi / k)
    r = np.full(k, radius) if convex else rng.uniform(0.35 * radius, radius, k)
    pts = [
        (float(cx + r[i] * np.cos(ang[i])), float(cy + r[i] * np.sin(ang[i])))
        for i in range(k)
    ]
    return pts + [pts[0]]


def _polygons(rng, n):
    """[(poly_id, kind, outer, holes)] in continuous lon space (lons may
    pass 180 for antimeridian polygons; the frame wraps them)."""
    out = []
    for pid in range(n):
        shape = ("convex", "concave", "holed", "antimeridian")[pid % 4]
        radius = rng.uniform(0.2, 1.2)
        cy = rng.uniform(-60.0, 60.0)
        if shape == "antimeridian":
            # near enough to 180 that the ring always crosses it
            cx = 180.0 + rng.uniform(-0.25, 0.25) * radius
        else:
            cx = rng.uniform(-170.0, 170.0)
        k = int(rng.integers(5, 14))
        outer = _ring(rng, cx, cy, radius, k, convex=shape != "concave")
        holes = []
        if shape == "holed" or (shape == "antimeridian" and pid % 8 == 7):
            # inside the convex outer ring: its inscribed radius is at
            # least radius·cos(π·1.6/k) > 0.3·radius for k ≥ 5
            holes = [_ring(rng, cx, cy, 0.25 * radius, int(rng.integers(4, 8)), convex=False)]
        out.append((pid, shape, outer, holes))
    return out


SLACK_STEPS = (0.5, 1.5, 3.0)


def _probe_points(rng, outer, holes):
    """(x, y) probes in the polygon's continuous lon space; the last
    4·len(SLACK_STEPS) lie just outside the outer ring's bbox."""
    rings = [np.asarray(r) for r in [outer, *holes]]
    xs, ys = rings[0][:, 0], rings[0][:, 1]
    xmin, xmax, ymin, ymax = xs.min(), xs.max(), ys.min(), ys.max()
    w, h = xmax - xmin, ymax - ymin
    pts = list(
        zip(
            rng.uniform(xmin - 0.2 * w, xmax + 0.2 * w, 40),
            rng.uniform(ymin - 0.2 * h, ymax + 0.2 * h, 40),
        )
    )
    for ring in rings:
        # on edges (interpolated) and on vertices
        for i in rng.integers(0, len(ring) - 1, 4):
            t = rng.uniform()
            a, b = ring[i], ring[i + 1]
            pts.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
            pts.append((a[0], a[1]))
    # the slack band: beside the extreme vertex on each bbox side, at
    # 0.5·EPS (within the on-edge tolerance of the vertex's edges),
    # 1.5·EPS (within the prefilter's 2·EPS slack only) and 3·EPS
    # (outside both)
    for axis, idx, sign in ((0, xs.argmin(), -1), (0, xs.argmax(), 1),
                            (1, ys.argmin(), -1), (1, ys.argmax(), 1)):
        v = rings[0][idx]
        for d in SLACK_STEPS:
            p = [v[0], v[1]]
            p[axis] += sign * d * EPS
            pts.append(tuple(p))
    return pts


def _oracle(points, polys):
    """{(point_id, poly_id)} by an even-odd ray cast over every pair, the
    boundary (within EPS) counted inside; rings and points normalized to
    [0, 360) lons for polygons that cross the antimeridian."""
    pid = np.array([p[0] for p in points], dtype=np.int64)
    py = np.array([p[1] for p in points])
    lon = np.array([p[2] for p in points])
    hits = set()
    for poly_id, _kind, outer, holes in polys:
        rings = [np.asarray(r, dtype=np.float64) for r in [outer, *holes]]
        wrap = rings[0][:, 0].max() - rings[0][:, 0].min() > 180.0
        if wrap:
            for r in rings:
                r[:, 0] = np.where(r[:, 0] < 0, r[:, 0] + 360.0, r[:, 0])
        e = np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])
        ax, ay, bx, by = (e[:, i][None, :] for i in range(4))
        px = (np.where(lon < 0, lon + 360.0, lon) if wrap else lon)[:, None]
        y = py[:, None]
        straddles = (ay > y) != (by > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (bx - ax) * (y - ay) / (by - ay) + ax
        crossing = straddles & (px < xint)
        cross = (bx - ax) * (y - ay) - (by - ay) * (px - ax)
        on_edge = (
            (np.abs(cross) < EPS)
            & (px >= np.minimum(ax, bx) - EPS)
            & (px <= np.maximum(ax, bx) + EPS)
            & (y >= np.minimum(ay, by) - EPS)
            & (y <= np.maximum(ay, by) + EPS)
        )
        inside = (crossing.sum(1) % 2 == 1) | on_edge.any(1)
        hits.update((int(i), poly_id) for i in pid[inside])
    return hits


@pytest.mark.parametrize("seed", [11, 12])
def test_pip_matches_bruteforce_ray_cast(spark, seed):
    rng = np.random.default_rng(seed)
    polys = _polygons(rng, 24)
    wrapped = [
        (pid, "admin",
         [(_wrap_lon(x), y) for x, y in outer],
         [[(_wrap_lon(x), y) for x, y in h] for h in holes] or None)
        for pid, _shape, outer, holes in polys
    ]
    points, beyond_bbox = [], set()
    for pid, _shape, outer, holes in polys:
        probes = _probe_points(rng, outer, holes)
        for j, (x, y) in enumerate(probes):
            if j >= len(probes) - 4 * len(SLACK_STEPS):
                beyond_bbox.add((len(points), pid))
            points.append((len(points), float(y), _wrap_lon(float(x))))

    expected = _oracle(points, [(p[0], p[1], p[2], p[3] or []) for p in wrapped])
    assert {s for _p, s, _o, _h in polys} == {"convex", "concave", "holed", "antimeridian"}
    assert sum(max(x for x, _ in o) >= 180.0 for _p, _s, o, _h in polys) == 6
    # some probes outside a polygon's bbox still touch its boundary within
    # EPS (the prefilter must keep them), and some do not
    assert beyond_bbox & expected and beyond_bbox - expected

    polys_df = spark.createDataFrame(wrapped, POLY_DDL)
    pts_df = spark.createDataFrame(points, "point_id long, lat double, lon double")

    def run(**kw):
        return {
            (r["point_id"], r["poly_id"])
            for r in point_in_polygon(spark, pts_df, **kw).collect()
        }

    driver = build_pip_index(spark, polys_df, level=LEVEL, distributed=False)
    dist = build_pip_index(spark, polys_df, level=LEVEL, distributed=True)
    try:
        assert run(polys=None, prebuilt=driver) == expected
        assert run(polys=None, prebuilt=dist) == expected
    finally:
        unpersist_pip_index(driver)
        unpersist_pip_index(dist)
    assert run(polys=polys_df, level=LEVEL) == expected
