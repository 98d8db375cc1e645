"""Polygon overlay — distributed polygon×polygon INTERSECTS join.

The one spatial predicate the reference's admin-layer tooling needs that
G4 (point-in-polygon) does not already answer: which polygons of layer A
share at least one point with which polygons of layer B (OGC
``ST_Intersects`` over polygon point sets, holes included). Reference
parity: wayproblems renders per-admin-area problem layers (wayproblems.cpp
main() polygon layer setup); the overlay join is the layer×layer analog
of its per-feature admin assignment.

Each layer's index — (cell, poly) buckets, flat edges, and one
representative-point + bbox row per polygon — comes from G4's one
polygon-index kernel (``pip.polygon_index_tables``), run on the driver or
executor-parallel by :func:`build_overlay_index`.

Physical plan (Spark-first, same shape as G4):

  1. candidate pairs by S2 cell-prefix co-bucketing: both layers get the
     SOUND covering-cell set (superset of every cell the polygon
     touches), so two intersecting polygons necessarily share a cover
     cell. Join the two small bucket tables on ``cell``
     (B-side broadcast) and ``distinct`` the (a_id, b_id) pairs — the only
     shuffle in the operator, sized by the candidate-pair count.
  2. decide each candidate with three codegen tests, unioned:
       a. edge×edge crossing — candidates broadcast-joined to both flat
          edge tables; the 4-orientation segment test plus collinear
          touch checks runs inside whole-stage codegen and collapses
          map-side (partial max) to one row per pair before the final
          tiny shuffle. Expansion is |edges_A(poly)|·|edges_B(poly)| per
          pair and never leaves the producing task.
       b. B-representative-vertex ∈ A — even-odd parity ray cast, the
          q15-locked ``pip.ray_cast_hits`` (same operand order, same EPS
          on-edge tie rule), catches B fully inside A (no edge
          crossings).
       c. A-representative-vertex ∈ B — symmetric.
     Holes need no special casing: hole rings contribute edges (a ring
     crossing = boundary intersection ⇒ intersects) and parity over
     outer+hole edges is even for a vertex inside a hole, so "B entirely
     inside a hole of A" correctly reports disjoint.

Antimeridian: wrapped polygons store ring lons pre-shifted to [0,360)
(by the index kernel) with ``wrap=true``. For any candidate pair where
EITHER side wraps, every x coordinate < 0 is shifted +360 (wrapped-side
coords are already ≥0, so the shift is the identity for them). Candidate
pairs only arise from shared cover cells, so a mixed pair is always near
±180 where the conditional shift is exact; a prime-meridian-straddling
polygon can never co-bucket with a ±180-wrapping one. Non-wrap pairs are
bit-identical to raw coordinates (the shift expression is a no-op).

100 TB shape: polygon layers are the small dims (10^2..10^5 admin /
landuse rings) — both bucket tables and both edge tables broadcast, the
big work (edge×edge + parity) is map-side codegen with partial
aggregation, and the only data-sized shuffle is the distinct over
candidate pairs. For two HUGE layers set ``broadcast_edges=False`` to
fall back to shuffle hash joins on poly id.

Reference: flohoff/wayproblems wayproblems.cpp:1441-1546 (per-way admin
context), SpatiaLite layer model (sinks/sqlite_export.py).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pip import EPS, _build_index, ray_cast_hits

__all__ = ["polygon_intersect_join", "build_overlay_index", "unpersist_overlay_index"]


def _dense_samples(rings, level: int) -> int:
    """Cover sample count at 4× ``covering_cells``' auto density: the
    Lipschitz margin shrinks from ~4 cells to the ~2-cell floor, which
    measured ~1.5× fewer cover cells per polygon (fewer candidate pairs
    AND a smaller candidate-distinct shuffle downstream). Affordable
    because the distributed build runs the O(samples²) numpy per-polygon
    kernel executor-parallel (guide §2.3: shrink what feeds the
    exchange). Keeps covering_cells' step ≤ 3° face-sliver validity
    floor; capped at its 257 ceiling."""
    ring = np.asarray(rings[0], dtype=np.float64)
    span = max(np.ptp(ring[:, 0]), np.ptp(ring[:, 1]))
    n = 1 << level
    return int(min(257, max(33, span / 3.0 + 2, 26.0 * math.radians(span) * n / 2.0)))


def build_overlay_index(
    spark,
    polys: DataFrame,
    level: int = 9,
    samples: int | None = None,
    persist: bool = True,
    distributed: bool | None = None,
):
    """One layer's overlay-side tables: (level, buckets, edges, reps).

    Build once per layer and pass as ``prebuilt_a``/``prebuilt_b`` when
    the same layer participates in several joins (or in streaming
    batches) — the cover construction is the driver-side constant that
    poisoned the r4 pip scaling leg until it was split out the same way.

    The three tables come from the one polygon-index kernel
    (``pip.polygon_index_tables``) through the same placement helper as
    ``build_pip_index``: ``persist=True`` persists AND materializes them,
    and ``distributed`` (default: the persisted builds) runs the kernel
    executor-parallel via ``mapInArrow`` — the r6 driver loop was a
    parallelism-independent O(polys · samples²) single-core bound (leg
    scaling eff 0.235) and is a scale-killer at 10⁶-polygon layers.
    One-shot (``persist=False``) builds stay on the driver: an
    unpersisted ``mapInArrow`` frame would re-run its Python pass on
    every downstream broadcast.

    Sample policy: an explicit ``samples`` gives identical tables on both
    placements (test-asserted); with ``samples=None`` the driver build
    uses ``covering_cells``' auto density and the distributed build the
    denser :func:`_dense_samples` cover (still a sound superset — join
    output is identical, candidate volume smaller)."""
    if distributed is None:
        distributed = persist
    if samples is None and distributed:
        samples = _dense_samples
    return _build_index(
        spark, polys, level, samples, ("buckets", "edges", "reps"), distributed, persist
    )


def unpersist_overlay_index(prebuilt) -> None:
    _level, buckets, edges, reps = prebuilt
    for f in (buckets, edges, reps):
        f.unpersist()


def _shift(col, either_wrap):
    """The pair-frame x normalization: +360 on negative lons only when
    either polygon of the pair wraps (identity expression otherwise, so
    non-wrap arithmetic is bit-identical to raw coordinates)."""
    return F.when(either_wrap & (col < 0), col + 360.0).otherwise(col)


def _parity_hits(cand_rep: DataFrame, edges: DataFrame, edge_id: str) -> DataFrame:
    """(a_id, b_id) pairs whose representative point (rx, ry) lies inside
    the polygon keyed by ``edge_id`` — ``pip.ray_cast_hits`` on the
    pair-frame x normalization."""
    ex = cand_rep.join(edges.withColumnRenamed("poly_id", edge_id), edge_id)
    either_wrap = F.col("rwrap") | F.col("wrap")
    hit = ray_cast_hits(
        ex, ("a_id", "b_id"),
        _shift(F.col("rx"), either_wrap), F.col("ry"),
        _shift(F.col("ax"), either_wrap), F.col("ay"),
        _shift(F.col("bx"), either_wrap), F.col("by"),
    )
    return hit.select("a_id", "b_id")


def _seg_cross_hits(cand: DataFrame, edges_a: DataFrame, edges_b: DataFrame) -> DataFrame:
    """(a_id, b_id) pairs with at least one A-edge × B-edge intersection
    (proper crossing or collinear/endpoint touch). Both edge joins are
    broadcast-able; the orientation tests are plain double arithmetic in
    whole-stage codegen and the max() collapses map-side."""
    ea = edges_a.select(
        F.col("poly_id").alias("a_id"),
        F.col("ax").alias("p1x"),
        F.col("ay").alias("p1y"),
        F.col("bx").alias("p2x"),
        F.col("by").alias("p2y"),
        F.col("wrap").alias("awrap"),
    )
    eb = edges_b.select(
        F.col("poly_id").alias("b_id"),
        F.col("ax").alias("q1x"),
        F.col("ay").alias("q1y"),
        F.col("bx").alias("q2x"),
        F.col("by").alias("q2y"),
        F.col("wrap").alias("bwrap"),
    )
    ex = cand.join(ea, "a_id").join(eb, "b_id")
    either_wrap = F.col("awrap") | F.col("bwrap")
    p1x = _shift(F.col("p1x"), either_wrap)
    p2x = _shift(F.col("p2x"), either_wrap)
    q1x = _shift(F.col("q1x"), either_wrap)
    q2x = _shift(F.col("q2x"), either_wrap)
    p1y, p2y = F.col("p1y"), F.col("p2y")
    q1y, q2y = F.col("q1y"), F.col("q2y")

    # orientation of point r relative to directed segment s1->s2
    def orient(s1x, s1y, s2x, s2y, rx, ry):
        return (s2x - s1x) * (ry - s1y) - (s2y - s1y) * (rx - s1x)

    d1 = orient(p1x, p1y, p2x, p2y, q1x, q1y)
    d2 = orient(p1x, p1y, p2x, p2y, q2x, q2y)
    d3 = orient(q1x, q1y, q2x, q2y, p1x, p1y)
    d4 = orient(q1x, q1y, q2x, q2y, p2x, p2y)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    # collinear touch: orientation ~0 AND the point inside the segment
    # bbox (same EPS discipline as the pip on-edge rule)
    def on_seg(d, s1x, s1y, s2x, s2y, rx, ry):
        return (
            (F.abs(d) < EPS)
            & (rx >= F.least(s1x, s2x) - EPS)
            & (rx <= F.greatest(s1x, s2x) + EPS)
            & (ry >= F.least(s1y, s2y) - EPS)
            & (ry <= F.greatest(s1y, s2y) + EPS)
        )

    touch = (
        on_seg(d1, p1x, p1y, p2x, p2y, q1x, q1y)
        | on_seg(d2, p1x, p1y, p2x, p2y, q2x, q2y)
        | on_seg(d3, q1x, q1y, q2x, q2y, p1x, p1y)
        | on_seg(d4, q1x, q1y, q2x, q2y, p2x, p2y)
    )

    hit = F.when(proper | touch, F.lit(1)).otherwise(F.lit(0))
    agg = ex.groupBy("a_id", "b_id").agg(F.max(hit).alias("_hit"))
    return agg.filter(F.col("_hit") == 1).select("a_id", "b_id")


def polygon_intersect_join(
    spark,
    polys_a: DataFrame | None,
    polys_b: DataFrame | None,
    level: int = 9,
    samples: int | None = None,
    prebuilt_a=None,
    prebuilt_b=None,
    same_layer: bool = False,
    broadcast_edges: bool = True,
    track_persists: list | None = None,
) -> DataFrame:
    """(a_id, b_id) — every pair of polygons whose point sets intersect
    (boundary touch counts, holes honored). Polygon frames use the G4
    schema: (poly_id, kind, ring array<struct<lon,lat>>[, holes]).

    ``same_layer=True`` treats A and B as the same layer and returns each
    unordered pair once with a_id < b_id (self pairs dropped).
    ``broadcast_edges=False`` switches the three decision joins to plain
    shuffle hash joins for polygon layers past broadcast size.

    The candidate-pair frame feeds all THREE decision branches, so it is
    persisted internally (without it the bucket join + distinct runs
    three times — measured 3× the whole join's cost at bench scale).
    Pass ``track_persists=[]`` to receive the frame and unpersist it
    after consuming the result (the minhash/knn convention); without the
    list it stays cached until the session ends."""
    if prebuilt_a is None:
        prebuilt_a = build_overlay_index(spark, polys_a, level, samples, persist=False)
    if prebuilt_b is None:
        if same_layer and polys_b is None:
            prebuilt_b = prebuilt_a
        else:
            prebuilt_b = build_overlay_index(
                spark, polys_b, prebuilt_a[0], samples, persist=False
            )
    level_a, buckets_a, edges_a, reps_a = prebuilt_a
    level_b, buckets_b, edges_b, reps_b = prebuilt_b
    if level_a != level_b:
        raise ValueError(
            f"overlay indexes built at different levels ({level_a} != {level_b})"
        )

    hint = F.broadcast if broadcast_edges else (lambda f: f)
    cand = (
        buckets_a.select("cell", F.col("poly_id").alias("a_id"))
        .join(hint(buckets_b.select("cell", F.col("poly_id").alias("b_id"))), "cell")
        .select("a_id", "b_id")
    )
    if same_layer:
        cand = cand.filter(F.col("a_id") < F.col("b_id"))
    # bbox prefilter BEFORE the distinct (guide §2.3 — shuffle fewer
    # bytes; VERDICT r6 next #4): two polygons whose outer-ring bboxes
    # are further apart than the decision tests' EPS touch tolerance
    # cannot intersect, so dropping those candidates here changes
    # nothing downstream while collapsing both the candidate-distinct
    # exchange AND the edge×edge decision volume (measured on the bench
    # layers: 317k co-bucketed pairs → 16.1k bbox-surviving vs 15.1k
    # true — a ~20× cut of the dominant decision stage). Wrap pairs skip
    # the test (their bboxes live in mixed coordinate spaces; they are
    # the rare ±180 sliver and the decision tests handle them exactly).
    bb = lambda reps, side: hint(
        reps.select(
            F.col("poly_id").alias(f"{side}_id"),
            F.col("xmin").alias(f"_{side}xmin"),
            F.col("xmax").alias(f"_{side}xmax"),
            F.col("ymin").alias(f"_{side}ymin"),
            F.col("ymax").alias(f"_{side}ymax"),
            F.col("rwrap").alias(f"_{side}wrap"),
        )
    )
    slack = F.lit(2.0 * EPS)
    cand = (
        cand.join(bb(reps_a, "a"), "a_id")
        .join(bb(reps_b, "b"), "b_id")
        .filter(
            F.col("_awrap")
            | F.col("_bwrap")
            | (
                (F.col("_axmin") <= F.col("_bxmax") + slack)
                & (F.col("_bxmin") <= F.col("_axmax") + slack)
                & (F.col("_aymin") <= F.col("_bymax") + slack)
                & (F.col("_bymin") <= F.col("_aymax") + slack)
            )
        )
        .select("a_id", "b_id")
    )
    cand = cand.distinct().persist()
    if track_persists is not None:
        track_persists.append(cand)

    crossings = _seg_cross_hits(cand, hint(edges_a), hint(edges_b))
    b_in_a = _parity_hits(
        cand.join(
            hint(reps_b.select(F.col("poly_id").alias("b_id"), "rx", "ry", "rwrap")),
            "b_id",
        ),
        hint(edges_a),
        "a_id",
    )
    a_in_b = _parity_hits(
        cand.join(
            hint(reps_a.select(F.col("poly_id").alias("a_id"), "rx", "ry", "rwrap")),
            "a_id",
        ),
        hint(edges_b),
        "b_id",
    )
    return crossings.unionByName(b_in_a).unionByName(a_in_b).distinct()
