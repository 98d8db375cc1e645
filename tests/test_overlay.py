"""polygon_intersect_join vs an independent exact-arithmetic reference.

The reference oracle here is deliberately a DIFFERENT implementation:
pure-Python Fraction (exact rational) segment intersection + winding
ray cast over integer/binary-fraction lattice fixtures, so agreement is
evidence, not tautology. Degenerate-touch cases (shared vertices,
collinear overlapping edges) are exercised explicitly — lattice coords
make every orientation product exact in doubles, so the Spark side's
EPS tests behave as exact zero tests on these fixtures.
"""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from wayproblems_spark.operators.overlay import (
    build_overlay_index,
    polygon_intersect_join,
    unpersist_overlay_index,
)


# ---------------------------------------------------------------- reference
def _orient(a, b, c):
    return (Fraction(b[0]) - Fraction(a[0])) * (Fraction(c[1]) - Fraction(a[1])) - (
        Fraction(b[1]) - Fraction(a[1])
    ) * (Fraction(c[0]) - Fraction(a[0]))


def _on_seg(a, b, c):
    """c collinear-with and within segment ab (inclusive)."""
    if _orient(a, b, c) != 0:
        return False
    return min(a[0], b[0]) <= c[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= c[1] <= max(
        a[1], b[1]
    )


def _segs_intersect(p1, p2, q1, q2):
    d1, d2 = _orient(p1, p2, q1), _orient(p1, p2, q2)
    d3, d4 = _orient(q1, q2, p1), _orient(q1, q2, p2)
    if ((d1 > 0) != (d2 > 0)) and d1 != 0 and d2 != 0 and ((d3 > 0) != (d4 > 0)) and d3 != 0 and d4 != 0:
        return True
    return (
        _on_seg(p1, p2, q1)
        or _on_seg(p1, p2, q2)
        or _on_seg(q1, q2, p1)
        or _on_seg(q1, q2, p2)
    )


def _point_in_rings(pt, rings):
    """Even-odd over all rings; boundary counts inside (exact rational)."""
    crossings = 0
    px, py = Fraction(pt[0]), Fraction(pt[1])
    for ring in rings:
        for a, b in zip(ring[:-1], ring[1:]):
            if _on_seg(a, b, (px, py)):
                return True
            ay, by = Fraction(a[1]), Fraction(b[1])
            if (ay > py) != (by > py):
                ax, bx = Fraction(a[0]), Fraction(b[0])
                xint = (bx - ax) * (py - ay) / (by - ay) + ax
                if px < xint:
                    crossings += 1
    return crossings % 2 == 1


def _ref_intersects(rings_a, rings_b):
    edges = lambda rings: [
        (a, b) for ring in rings for a, b in zip(ring[:-1], ring[1:])
    ]
    for p1, p2 in edges(rings_a):
        for q1, q2 in edges(rings_b):
            if _segs_intersect(p1, p2, q1, q2):
                return True
    return _point_in_rings(rings_b[0][0], rings_a) or _point_in_rings(
        rings_a[0][0], rings_b
    )


def _ref_pairs(polys_a, polys_b):
    out = set()
    for a_id, rings_a in polys_a:
        for b_id, rings_b in polys_b:
            if _ref_intersects(rings_a, rings_b):
                out.add((a_id, b_id))
    return out


# ---------------------------------------------------------------- fixtures
def _square(cx, cy, r):
    return [
        (cx - r, cy - r),
        (cx + r, cy - r),
        (cx + r, cy + r),
        (cx - r, cy + r),
        (cx - r, cy - r),
    ]


def _diamond(cx, cy, r):
    return [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r), (cx + r, cy)]


def _poly_df(spark, polys, holes=None):
    """polys: [(pid, ring)] with rings as (lon, lat) tuples."""
    holes = holes or {}
    rows = [
        (
            pid,
            "test",
            [{"lon": float(x), "lat": float(y)} for x, y in ring],
            [
                [{"lon": float(x), "lat": float(y)} for x, y in h]
                for h in holes.get(pid, [])
            ],
        )
        for pid, ring in polys
    ]
    return spark.createDataFrame(
        rows,
        "poly_id long, kind string, ring array<struct<lon:double,lat:double>>, "
        "holes array<array<struct<lon:double,lat:double>>>",
    )


LAYER_A = [
    (1, _square(10.0, 10.0, 1.0)),       # baseline
    (2, _square(20.0, 10.0, 2.0)),       # big container
    (3, _square(30.0, 10.0, 1.0)),       # will touch 103 at a corner
    (4, _square(40.0, 10.0, 1.0)),       # shares a full edge with 104
    (5, _square(50.0, 10.0, 1.0)),       # disjoint from everything in B
    (6, _square(60.0, 10.0, 4.0)),       # has a hole (donut)
]
HOLES_A = {6: [_square(60.0, 10.0, 2.0)]}

LAYER_B = [
    (101, _diamond(10.5, 10.25, 1.0)),   # proper overlap with 1
    (102, _square(20.25, 10.25, 0.5)),   # fully inside 2 (no crossings)
    (103, _square(32.0, 12.0, 1.0)),     # corner-touches 3 at (31, 11)
    (104, _square(42.0, 10.0, 1.0)),     # edge (41, 9..11) shared with 4
    (105, _diamond(54.0, 14.0, 1.0)),    # disjoint
    (106, _square(60.0, 10.0, 1.0)),     # inside 6's hole -> disjoint
    (107, _square(60.0, 13.0, 0.75)),    # inside 6's solid ring, above the hole
]


def _pairs_a(polys, holes=None):
    holes = holes or {}
    return [(pid, [ring] + holes.get(pid, [])) for pid, ring in polys]


EXPECTED = _ref_pairs(_pairs_a(LAYER_A, HOLES_A), _pairs_a(LAYER_B))


def test_reference_self_check():
    """The exact-rational reference sees the geometry we think it does."""
    assert EXPECTED == {
        (1, 101),
        (2, 102),
        (3, 103),
        (4, 104),
        (6, 107),
    }


def _run(spark, **kw):
    a = _poly_df(spark, LAYER_A, HOLES_A)
    b = _poly_df(spark, LAYER_B)
    got = polygon_intersect_join(spark, a, b, level=9, **kw)
    return {(r["a_id"], r["b_id"]) for r in got.collect()}


def test_intersect_join_matches_reference(spark):
    assert _run(spark) == EXPECTED


def test_intersect_join_shuffle_joins(spark):
    assert _run(spark, broadcast_edges=False) == EXPECTED


def test_prebuilt_identity_and_unpersist(spark):
    a = _poly_df(spark, LAYER_A, HOLES_A)
    b = _poly_df(spark, LAYER_B)
    ia = build_overlay_index(spark, a, level=9)
    ib = build_overlay_index(spark, b, level=9)
    got = {
        (r["a_id"], r["b_id"])
        for r in polygon_intersect_join(
            spark, None, None, prebuilt_a=ia, prebuilt_b=ib
        ).collect()
    }
    assert got == EXPECTED
    unpersist_overlay_index(ia)
    unpersist_overlay_index(ib)


def test_level_mismatch_raises(spark):
    a = _poly_df(spark, LAYER_A, HOLES_A)
    ia = build_overlay_index(spark, a, level=9, persist=False)
    ib = build_overlay_index(spark, a, level=10, persist=False)
    with pytest.raises(ValueError, match="different levels"):
        polygon_intersect_join(spark, None, None, prebuilt_a=ia, prebuilt_b=ib)


def test_same_layer_unordered_pairs(spark):
    polys = [
        (1, _square(10.0, 10.0, 1.0)),
        (2, _square(11.0, 10.0, 1.0)),   # overlaps 1
        (3, _square(20.0, 10.0, 1.0)),   # disjoint
    ]
    df = _poly_df(spark, polys)
    got = {
        (r["a_id"], r["b_id"])
        for r in polygon_intersect_join(spark, df, None, level=9, same_layer=True).collect()
    }
    assert got == {(1, 2)}


def test_distributed_build_identical(spark):
    """build_overlay_index(distributed=True) runs the index kernel
    executor-parallel; with an explicit ``samples`` the three tables must
    be row-identical to the driver build (the pip
    test_pip_distributed_build_identical pattern — only where the numpy
    runs moves). An empty layer gives empty tables with the declared
    schemas on both placements."""
    from pyspark.sql import types as T

    from wayproblems_spark.operators.pip import (
        _BUCKET_SCHEMA,
        _EDGE_SCHEMA,
        _REP_SCHEMA,
    )

    a = _poly_df(spark, LAYER_A, HOLES_A)
    drv = build_overlay_index(
        spark, a, level=9, samples=33, persist=False, distributed=False
    )
    dist = build_overlay_index(
        spark, a, level=9, samples=33, persist=True, distributed=True
    )
    for i, name in ((1, "buckets"), (2, "edges"), (3, "reps")):
        d = sorted(map(tuple, drv[i].collect()))
        x = sorted(map(tuple, dist[i].collect()))
        assert d == x, f"{name} differ between driver and distributed build"
    unpersist_overlay_index(dist)

    empty = a.where(F.col("poly_id") < 0)
    want = [T.StructType.fromDDL(d) for d in (_BUCKET_SCHEMA, _EDGE_SCHEMA, _REP_SCHEMA)]
    for distributed in (False, True):
        idx = build_overlay_index(spark, empty, level=9, distributed=distributed)
        assert [f.schema for f in idx[1:]] == want
        assert [f.count() for f in idx[1:]] == [0, 0, 0]
        unpersist_overlay_index(idx)


def test_bbox_prefilter_keeps_touching_pairs(spark):
    """The candidate bbox prefilter must not drop pairs that only TOUCH
    (shared corner / shared edge — bbox contact with zero overlap area):
    exactly the EXPECTED set, which contains both cases, plus an
    explicit assertion that rep bbox columns exist for the filter."""
    from wayproblems_spark.operators.overlay import build_overlay_index

    a = _poly_df(spark, LAYER_A, HOLES_A)
    ia = build_overlay_index(spark, a, level=9)
    assert {"xmin", "xmax", "ymin", "ymax"} <= set(ia[3].columns)
    unpersist_overlay_index(ia)
    assert _run(spark) == EXPECTED


def test_antimeridian_pair(spark):
    """A wraps ±180 (stored shifted), B sits just west of the seam raw —
    they overlap across the seam; a control B' east of A is disjoint."""
    wrap_a = [(1, [(179.0, 0.0), (-179.0, 0.0), (-179.0, 2.0), (179.0, 2.0), (179.0, 0.0)])]
    bs = [
        (201, _square(-179.5, 1.0, 0.5)),  # overlaps across the seam
        (202, _square(-170.0, 1.0, 1.0)),  # well clear
    ]
    got = {
        (r["a_id"], r["b_id"])
        for r in polygon_intersect_join(
            spark, _poly_df(spark, wrap_a), _poly_df(spark, bs), level=7
        ).collect()
    }
    assert got == {(1, 201)}
