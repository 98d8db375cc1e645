"""Randomized property tests for the polygon overlay: the cell cover may
drop no cell a polygon touches, and the cover + bbox candidate filter
may drop no intersecting pair.

Layers are random convex, concave (star-shaped), holed and
antimeridian-crossing polygons, built in clusters so that B polygons
overlap, contain, touch at a shared vertex, sit inside a hole of, or lie
clear of an A polygon. The join oracle is an all-pairs numpy test — no
cover, no bbox — in the operator's arithmetic: the 4-orientation segment
test with the EPS collinear touch, plus the even-odd ray cast (boundary
inside) of each polygon's representative vertex (first outer vertex)
against the other. The operator must equal it for the one-shot call and
for driver-built and distributed prebuilt indexes."""

from __future__ import annotations

import numpy as np
import pytest

from wayproblems_spark.operators.cells import latlon_to_cell
from wayproblems_spark.operators.overlay import (
    _dense_samples,
    build_overlay_index,
    polygon_intersect_join,
    unpersist_overlay_index,
)
from wayproblems_spark.operators.pip import EPS, _poly_cover

LEVEL = 9
POLY_DDL = (
    "poly_id long, kind string, ring array<struct<lon:double,lat:double>>, "
    "holes array<array<struct<lon:double,lat:double>>>"
)
SHAPES = ("convex", "concave", "holed", "antimeridian")
# how each cluster's B polygon sits relative to its A polygon
PLACEMENTS = ("overlap", "inside", "contains", "clear", "vertex")


def _wrap_lon(x: float) -> float:
    return x - 360.0 if x >= 180.0 else x


def _ring(rng, cx, cy, radius, k, convex):
    """Closed star-shaped ring around (cx, cy) in continuous lon space;
    equal radii give a convex ring, random radii a concave one."""
    ang = (np.arange(k) + rng.uniform(-0.3, 0.3, k)) * (2 * np.pi / k)
    r = np.full(k, radius) if convex else rng.uniform(0.35 * radius, radius, k)
    pts = [
        (float(cx + r[i] * np.cos(ang[i])), float(cy + r[i] * np.sin(ang[i])))
        for i in range(k)
    ]
    return pts + [pts[0]]


def _layers(rng, n):
    """Two layers [(poly_id, outer, holes)] in continuous lon space (lons
    of antimeridian clusters may pass 180). Clusters keep clear of the
    prime meridian, so no polygon both straddles lon 0 and shares a
    candidate pair's ±180 shift with a wrapped one."""
    layer_a, layer_b = [], []
    for c in range(n):
        shape = SHAPES[c % len(SHAPES)]
        place = PLACEMENTS[c % len(PLACEMENTS)]
        radius = rng.uniform(0.2, 0.8)
        cy = rng.uniform(-60.0, 60.0)
        if shape == "antimeridian":
            cx = 180.0 + rng.uniform(-0.25, 0.25) * radius
        else:
            cx = rng.choice([-1.0, 1.0]) * rng.uniform(10.0, 170.0)
        k = int(rng.integers(5, 14))
        outer = _ring(rng, cx, cy, radius, k, convex=shape != "concave")
        holes = []
        if shape == "holed":
            holes = [_ring(rng, cx, cy, 0.25 * radius, int(rng.integers(4, 8)), False)]
        layer_a.append((c, outer, holes))

        kb = int(rng.integers(4, 10))
        if place == "overlap":
            t = rng.uniform(0, 2 * np.pi)
            d = rng.uniform(0.5, 1.5) * radius
            b = _ring(rng, cx + d * np.cos(t), cy + d * np.sin(t), radius, kb, False)
        elif place == "inside":
            # inside a convex / concave outer ring, inside the hole of a
            # holed one (disjoint)
            b = _ring(rng, cx, cy, 0.05 * radius, kb, True)
        elif place == "contains":
            b = _ring(rng, cx, cy, 3.0 * radius, kb, True)
        elif place == "clear":
            b = _ring(rng, cx, cy + 4.0 * radius, radius, kb, False)
        else:
            # shares A's first vertex exactly and extends away from A
            vx, vy = outer[0]
            ux, uy = vx - cx, vy - cy
            b = [(vx, vy)] + [
                (float(vx + ux * s + uy * q), float(vy + uy * s - ux * q))
                for s, q in ((0.8, -0.6), (1.4, 0.0), (0.8, 0.6))
            ] + [(vx, vy)]
        layer_b.append((1000 + c, b, []))
    return layer_a, layer_b


def _rows(layer):
    """Frame rows: lons wrapped to [-180, 180), no holes as null."""
    return [
        (pid, "admin",
         [(_wrap_lon(x), y) for x, y in outer],
         [[(_wrap_lon(x), y) for x, y in h] for h in holes] or None)
        for pid, outer, holes in layer
    ]


def _rings(row):
    """([outer, *holes] as (k, 2) arrays, wrap) of a frame row, normalized
    the operator's way: negative lons +360 when the outer ring spans
    more than 180°."""
    _pid, _kind, outer, holes = row
    rings = [np.asarray(r, dtype=np.float64) for r in [outer, *(holes or [])]]
    xs = rings[0][:, 0]
    wrap = xs.max() - xs.min() > 180.0
    if wrap:
        for r in rings:
            r[:, 0] = np.where(r[:, 0] < 0, r[:, 0] + 360.0, r[:, 0])
    return rings, wrap


def _normalized(row):
    """(edges (m, 4), rep (x, y), wrap) of a frame row."""
    rings, wrap = _rings(row)
    edges = np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])
    return edges, rings[0][0], wrap


def _shift(x, either_wrap):
    return np.where(x < 0, x + 360.0, x) if either_wrap else x


def _segments_touch(ea, eb, either_wrap):
    p1x, p1y, p2x, p2y = (ea[:, i][:, None] for i in range(4))
    q1x, q1y, q2x, q2y = (eb[:, i][None, :] for i in range(4))
    p1x, p2x = _shift(p1x, either_wrap), _shift(p2x, either_wrap)
    q1x, q2x = _shift(q1x, either_wrap), _shift(q2x, either_wrap)

    def orient(s1x, s1y, s2x, s2y, rx, ry):
        return (s2x - s1x) * (ry - s1y) - (s2y - s1y) * (rx - s1x)

    def on_seg(d, s1x, s1y, s2x, s2y, rx, ry):
        return (
            (np.abs(d) < EPS)
            & (rx >= np.minimum(s1x, s2x) - EPS)
            & (rx <= np.maximum(s1x, s2x) + EPS)
            & (ry >= np.minimum(s1y, s2y) - EPS)
            & (ry <= np.maximum(s1y, s2y) + EPS)
        )

    d1 = orient(p1x, p1y, p2x, p2y, q1x, q1y)
    d2 = orient(p1x, p1y, p2x, p2y, q2x, q2y)
    d3 = orient(q1x, q1y, q2x, q2y, p1x, p1y)
    d4 = orient(q1x, q1y, q2x, q2y, p2x, p2y)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    touch = (
        on_seg(d1, p1x, p1y, p2x, p2y, q1x, q1y)
        | on_seg(d2, p1x, p1y, p2x, p2y, q2x, q2y)
        | on_seg(d3, q1x, q1y, q2x, q2y, p1x, p1y)
        | on_seg(d4, q1x, q1y, q2x, q2y, p2x, p2y)
    )
    return bool((proper | touch).any())


def _rep_inside(rep, edges, either_wrap):
    px = _shift(np.float64(rep[0]), either_wrap)
    py = np.float64(rep[1])
    ax, ay, bx, by = (edges[:, i] for i in range(4))
    ax, bx = _shift(ax, either_wrap), _shift(bx, either_wrap)
    straddles = (ay > py) != (by > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (bx - ax) * (py - ay) / (by - ay) + ax
    crossing = straddles & (px < xint)
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    on_edge = (
        (np.abs(cross) < EPS)
        & (px >= np.minimum(ax, bx) - EPS)
        & (px <= np.maximum(ax, bx) + EPS)
        & (py >= np.minimum(ay, by) - EPS)
        & (py <= np.maximum(ay, by) + EPS)
    )
    return bool(crossing.sum() % 2 == 1 or on_edge.any())


def _oracle(rows_a, rows_b):
    """{(a_id, b_id)} over every pair of the two layers."""
    na = [(r[0], *_normalized(r)) for r in rows_a]
    nb = [(r[0], *_normalized(r)) for r in rows_b]
    hits = set()
    for a_id, ea, rep_a, wrap_a in na:
        for b_id, eb, rep_b, wrap_b in nb:
            w = wrap_a or wrap_b
            if (
                _segments_touch(ea, eb, w)
                or _rep_inside(rep_b, ea, w)
                or _rep_inside(rep_a, eb, w)
            ):
                hits.add((a_id, b_id))
    return hits


@pytest.mark.parametrize("seed", [21, 22])
def test_dense_cover_contains_polygon_cells(seed):
    """Every cell holding a dense boundary or interior sample of the
    polygon is in its ``_dense_samples`` cover."""
    rng = np.random.default_rng(seed)
    layer_a, layer_b = _layers(rng, 12)
    for row in _rows(layer_a) + _rows(layer_b):
        rings, wrap = _rings(row)
        cover = set(_poly_cover(rings, wrap, LEVEL, _dense_samples(rings, LEVEL)).tolist())
        # every ring's boundary at 64 points per edge, and the interior
        # (the outer ring's bbox, which holds it)
        e = np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])
        t = np.linspace(0.0, 1.0, 64)[None, :]
        bx = (e[:, 0:1] + t * (e[:, 2:3] - e[:, 0:1])).ravel()
        by = (e[:, 1:2] + t * (e[:, 3:4] - e[:, 1:2])).ravel()
        arr = rings[0]
        ix = rng.uniform(arr[:, 0].min(), arr[:, 0].max(), 2000)
        iy = rng.uniform(arr[:, 1].min(), arr[:, 1].max(), 2000)
        lon = np.concatenate([bx, ix])
        lat = np.concatenate([by, iy])
        lon = np.where(lon >= 180.0, lon - 360.0, lon)
        cells = set(latlon_to_cell(lat, lon, LEVEL).astype(np.int64).tolist())
        assert cells <= cover, (row[0], len(cells - cover))


@pytest.mark.parametrize("seed", [31, 32])
def test_intersect_join_matches_all_pairs_oracle(spark, seed):
    rng = np.random.default_rng(seed)
    layer_a, layer_b = _layers(rng, 20)
    rows_a, rows_b = _rows(layer_a), _rows(layer_b)
    df_a = spark.createDataFrame(rows_a, POLY_DDL)
    df_b = spark.createDataFrame(rows_b, POLY_DDL)
    expected = _oracle(rows_a, rows_b)
    # every placement decides at least one pair each way
    cluster = {(c, 1000 + c) for c in range(len(layer_a))}
    assert sum(_normalized(r)[2] for r in rows_a) == len(layer_a) // len(SHAPES)
    assert expected & cluster and cluster - expected

    def run(a, b, **kw):
        got = polygon_intersect_join(spark, a, b, level=LEVEL, **kw)
        return {(r["a_id"], r["b_id"]) for r in got.collect()}

    assert run(df_a, df_b) == expected
    for distributed in (False, True):
        ia = build_overlay_index(spark, df_a, level=LEVEL, distributed=distributed)
        ib = build_overlay_index(spark, df_b, level=LEVEL, distributed=distributed)
        try:
            assert run(None, None, prebuilt_a=ia, prebuilt_b=ib) == expected, distributed
        finally:
            unpersist_overlay_index(ia)
            unpersist_overlay_index(ib)
