"""G5 — kNN nearest-way assignment (exact, bit-stable across parallelism).

One tiered search (``_tiered_nearest``) serves two candidate kinds:

  vertices (knn_nearest_way): a way's distance is the minimum haversine
          distance to any of its vertices.
  segments (knn_nearest_way_segments): a way's distance is the minimum
          distance to any point ON its polyline (great-circle arcs between
          consecutive vertices) — a long segment passing a point far from
          both endpoints counts at its closest arc point.

Either way each point gets its nearest way, tie-broken by smallest way_id —
a total order, so results are identical regardless of cluster size or
partitioning (the north_rule bit-stability clause).

A candidate kind supplies only what differs: the per-cell index (one row
per grid cell carrying a struct array of candidates), the squared-chord
distance from a point to one candidate, the acceptance factors (fraction
of the S2 min-edge under which a best is provably the global one, at the
index level and at the coarse rung levels), the flat candidate frame the
rungs re-key, and the frame the brute tail scans. ZERO Python runs on any
big row — both the candidate and the point grid encodes are pure-JVM
expressions over unit-sphere XYZ; numpy survives only in the face-edge
ring-wrap sliver and the tiny escapee ring expansion.

  index:  vertices: each vertex registers into its own grid cell AND every
          touching cell (wrapped 3×3 ring, CROSS-FACE CORRECT). Interior
          vertices (>99.9% at practical levels) expand their ring with
          pure JVM bit arithmetic over the packed grid id; only the thin
          face-edge sliver (fraction ≈ 4/2^level) goes through the numpy
          wrap UDF (cells.latlon_to_grid_ring). Built once; at cluster
          scale it is reusable across point batches (``prebuilt=``).
          segments: each segment registers at every wrapped-ring cell of
          ≤½-min-edge spaced samples along its chord, so a long segment
          crossing a cell far from both endpoints is still a candidate
          there (the failure mode a vertex-only registration has).
          One groupBy collapses either side to one row per cell.
  tier 1: each point joins its SINGLE cell against the index — no point
          explosion, join output is one row per point. The prebuilt vertex
          index is cached sorted by cell within its cell-hash partitions
          (the materialized form is bucketed and sorted the same way), so
          the sort-merge join sorts only the point side. Then the cell's
          struct array explodes straight into a map-side-partial
          min(struct(c2, way_id)) grouped by the point's carried columns
          (all whole-stage codegen; interpreted higher-order array
          expressions measured ~10× slower here). A point is accepted
          when its best chord-dist < factor × S2 min-edge(level). Points
          in cube-CORNER cells (ring is only 7 cells there; 24 cells per
          level, all mid-ocean on Earth) are never accepted by the bound —
          they escalate regardless.
  escapees: after tier 1 and after each rung one step sizes what is
          left: it fetches at most _BRUTE_CUTOVER + 1 escapee ids off the
          persisted frame (a top-k of the smallest ids + collect_list,
          one small job). At or below the cut-over those ids are the
          whole set and go straight to the brute tail; nothing more is
          cached. Only a larger slice is persisted and counted, and that
          count gates the rungs' broadcast hints.
  ladder: more than _BRUTE_CUTOVER escalated points are BROADCAST (when
          their count allows), ring-expanded at a coarser level (UDF wrap
          only on this small side), against the CACHED flat candidate
          frame (vertices: the vertex frame; segments: the exploded index)
          re-keyed to coarse cells by JVM bit shifts — map-side hash join,
          no second candidate-side Python pass — then one tiny per-point
          min. The FIRST rung is d=1: escapees overwhelmingly just miss
          the tight tier-1 bound (measured 108,977/109,019 on the bench
          corpus), and its ring has 16× fewer sub-cells than a d=3 jump;
          later rungs grow the radius 8× per step so isolated points
          converge in O(log) rungs. Every rung's accepted best is the
          global argmin (the ring-bound proof is per-rung), so the ladder
          shape never changes results.
  brute:  once the escapee step finds at most _BRUTE_CUTOVER left (or
          the ladder exhausts), the remainder is broadcast against the
          candidate set (BroadcastNestedLoopJoin) — exact by construction,
          and bounded: the stream side is one cached candidate scan, the
          broadcast side is a few hundred points at most. Below the
          cut-over the points frame is filtered by the fetched ids, held
          in one array literal: generated code reads it as data, so a
          micro-batch with other escapees compiles no new class.

Soundness of the acceptance factors:
  vertices, 0.95 at every level: stress sampling across face edges and
          corners measured the true outside-ring minimum at ≥ 1.037
          min-edge (see cells.py), so 0.95 keeps a 9% sound margin while
          barely widening escalation.
  segments, 0.7 at tier 1: the arc is sampled at chord spacing piece ≤
          0.5·min_edge(level); any arc point lies ≤ piece/2 from a sample.
          If every sample of a segment is outside p's wrapped ring, its
          nearest arc point is ≥ 1.037·min_edge − piece/2 ≥ 0.78·min_edge
          away — so accepting only when best < 0.7·min_edge(level) is
          exact.
  segments, 0.85 on the rungs: the rungs reuse the fine samples at coarse
          cells, where piece ≪ min_edge(coarse).

Distances: trig-free squared 3D chord per candidate (strictly monotonic in
great-circle distance), converted to haversine meters only for each point's
single winner. min over a set → no float reduction-order dependence.

Reference parity: the C++ engine has no kNN (the graft adds it); semantics
follow the nearest-vertex assignment used by its spatialite consumers.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import (
    grid_expr_from_xyz,
    neighbor_grid_ids,
    ring_grid_udf,
)

EARTH_RADIUS_M = 6371008.8

# Minimum S2 cell edge length at level L: kMinEdge ≈ 2*sqrt(2)/3 / 2^L rad.
_MIN_EDGE_RAD = 2.0 * math.sqrt(2.0) / 3.0
# Acceptance factors × min-edge (soundness: module docstring): vertices
# at every level; segments at the index level and on the coarse rungs.
_ACCEPT_FACTOR = 0.95
_SEG_ACCEPT_FACTOR = 0.7
_RUNG_SEG_FACTOR = 0.85

_GJ_MASK = (1 << 29) - 1

# Ladder → brute-tail cutover population: below this many escapees the
# one-shot broadcast-NL tail (n_esc × n_candidates chord evals, ≤ ~200 × a
# few million ≈ low hundreds of millions — sub-second-to-seconds at any
# core count) undercuts even ONE more rung, whose cost floor is a full
# cached-candidate re-key scan + join probe regardless of escapee count.
# Purely a physical-plan switch: both paths are exact, results identical.
_BRUTE_CUTOVER = 200

# Escapee-side broadcast hints are GATED on the measured escapee count:
# the slice is usually ~3% of points, but it is data-dependent (a sparse
# way corpus or a mis-picked level can push most points into the ladder),
# and an unconditional F.broadcast would hit Spark's broadcast size limit
# / driver OOM at billion-point scale. Above the gates the hint is simply
# omitted — AQE still converts the join at runtime if the actual relation
# is small, and falls back to a shuffle join otherwise (correct either
# way; the hint only pins the fast plan when it is provably safe).
_ESC_BROADCAST_MAX = 500_000   # id-width side (per-rung anti-join)
_RING_BROADCAST_MAX = 200_000  # ring-exploded probe side (≤16 rows/escapee)


def _maybe_broadcast(df: DataFrame, n_rows: int, limit: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= limit else df


def cell_min_edge_m(level: int) -> float:
    return _MIN_EDGE_RAD / (1 << level) * EARTH_RADIUS_M


def _accept_chord2(factor: float, level: int) -> float:
    """Squared unit-sphere chord of the acceptance arc factor × min-edge."""
    theta = factor * _MIN_EDGE_RAD / (1 << level)
    return (2.0 * math.sin(theta / 2.0)) ** 2


def _with_xyz(df: DataFrame, lat_col: str, lon_col: str, prefix: str) -> DataFrame:
    """Unit-sphere XYZ — trig once per ROW so the candidate math needs none."""
    rl = F.radians(F.col(lat_col))
    rlon = F.radians(F.col(lon_col))
    return df.withColumns(
        {
            f"{prefix}x": F.cos(rl) * F.cos(rlon),
            f"{prefix}y": F.cos(rl) * F.sin(rlon),
            f"{prefix}z": F.sin(rl),
        }
    )


def _chord2(px, py, pz, vx, vy, vz):
    dx, dy, dz = px - vx, py - vy, pz - vz
    return dx * dx + dy * dy + dz * dz


def _vertex_chord2(c):
    """Squared chord from the point (px, py, pz) to the vertex whose fields
    ``c(name)`` returns."""
    return _chord2(
        F.col("px"), F.col("py"), F.col("pz"), c("vx"), c("vy"), c("vz")
    )


def _chord2_to_m(c2):
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(c2) / 2.0)


def _gi(cell):
    return F.shiftright(cell, 29).bitwiseAND(F.lit(_GJ_MASK))


def _gj(cell):
    return cell.bitwiseAND(F.lit(_GJ_MASK))


def is_corner_cell(gid, level: int):
    """Point's grid cell sits on BOTH face-boundary axes (cube corner) —
    its true neighborhood has 7 cells, so the ring bound must not accept."""
    lim = (1 << level) - 1
    return (_gi(gid).isin(0, lim)) & (_gj(gid).isin(0, lim))


def coarse_cell_expr(cell, level: int, coarse_level: int):
    """Packed grid id at a coarser level — pure JVM bit shifts."""
    d = level - coarse_level
    face = F.shiftright(cell, 58)
    return (
        F.shiftleft(face, 58)
        .bitwiseOR(F.shiftleft(F.shiftright(_gi(cell), d), 29))
        .bitwiseOR(F.shiftright(_gj(cell), d))
    )


def way_vertices(resolved_ways: DataFrame) -> DataFrame:
    """Explode resolved geometries to (way_id, vlat, vlon)."""
    return resolved_ways.select(
        "way_id", F.explode("geom").alias("v")
    ).select("way_id", F.col("v.lat").alias("vlat"), F.col("v.lon").alias("vlon"))


def _near_face_edge(level: int):
    """Conservative JVM-only test for 'grid cell may touch a face edge',
    from unit-sphere XYZ: max(|u|,|v|) = mid(|x|,|y|,|z|) / max(...), and
    edge cells have max(|u|,|v|) ≥ 1 − (8/3)·2^-level (du/ds = 8/3 at the
    edge). The 4·2^-level margin over-selects slightly — false positives
    just take the (correct, slower) UDF wrap path."""
    ax, ay, az = F.abs(F.col("vx")), F.abs(F.col("vy")), F.abs(F.col("vz"))
    hi = F.greatest(ax, ay, az)
    lo = F.least(ax, ay, az)
    mid = ax + ay + az - hi - lo
    return mid >= hi * (1.0 - 4.0 / (1 << level))


def build_vertex_cell_index(verts_g: DataFrame, level: int) -> DataFrame:
    """(cell, vs: array<struct<vx,vy,vz,way_id>>) — each vertex registered
    in every cell whose 3×3 neighborhood contains it (ring symmetry:
    register the vertex into ITS own wrapped ring). Interior vertices ring-
    expand JVM-side from the precomputed grid id `_g`; only face-edge
    candidates invoke the numpy wrap UDF. One vertex shuffle total;
    occupancy is bounded by pick_level, so arrays stay ~9×target small.
    Corner-wrap duplicates within a ring are harmless (min-insensitive)."""
    v = F.struct("vx", "vy", "vz", "way_id").alias("v")
    near = _near_face_edge(level)
    interior = verts_g.filter(~near).select(
        v, F.explode(neighbor_grid_ids(F.col("_g"), level)).alias("cell")
    )
    edge = verts_g.filter(near).select(
        v,
        F.explode(ring_grid_udf(level)(F.col("vlat"), F.col("vlon"))).alias("cell"),
    )
    return (
        interior.unionByName(edge)
        .groupBy("cell")
        .agg(F.collect_list("v").alias("vs"))
    )


def pick_level(verts: DataFrame, probe_level: int = 12, target_occupancy: int = 4) -> int:
    """Density-adaptive cell level: probe occupancy at `probe_level`, then
    adjust so the mean verts-per-cell ≈ target. Keeps index arrays
    ~O(9 · target) instead of growing with density (the 100TB-scale
    guard). The probe raster is a pure-JVM equirect grid with the same
    cell count as the S2 level (R = √3·2^L rows → 2R² ≈ 6·4^L cells);
    occupancy only steers a heuristic, so projection distortion is fine —
    and the probe costs zero Python."""
    from .cells import MAX_LEVEL

    rows = int(math.sqrt(3.0) * (1 << probe_level))
    ri = F.floor((F.col("vlat") + 90.0) / 180.0 * rows).cast("long")
    rj = F.floor((F.col("vlon") + 180.0) / 360.0 * (2 * rows)).cast("long")
    probed = verts.select((ri * (2 * rows + 1) + rj).alias("_p"))
    row = probed.agg(
        F.count("*").alias("n"), F.approx_count_distinct("_p").alias("c")
    ).collect()[0]
    n, c = row["n"], max(row["c"], 1)
    occ = n / c
    level = probe_level
    while occ > 2 * target_occupancy and level < MAX_LEVEL - 2:
        level += 1
        occ /= 4.0
    while occ < target_occupancy / 4.0 and level > 4:
        level -= 1
        occ *= 4.0
    return level


def _materialize_parquet(df: DataFrame, path: str, bucket_col: str | None = None,
                         n_buckets: int = 32) -> DataFrame:
    """Write a frame to parquet and return the re-read frame (cluster-scale
    replacement for .persist(): survives executor loss, frees memory, and
    — with bucket_col — co-locates the later equi-join without a shuffle
    of this side)."""
    spark = df.sparkSession
    if bucket_col is not None:
        table = "wp_mat_" + hashlib.sha1(path.encode()).hexdigest()[:12]
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", path)
            .saveAsTable(table)
        )
        return spark.table(table)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def build_knn_index(
    resolved_ways: DataFrame,
    level: int | None = 12,
    materialize_dir: str | None = None,
):
    """(level, verts_g, index) — the reusable static side of the kNN
    operator: the grid-keyed vertex frame and the per-cell struct-array
    index, persisted (or parquet-materialized). Build ONCE and pass as
    ``prebuilt=`` to knn_nearest_way when many point batches query the
    same way corpus (the streaming foreach-batch pattern)."""
    verts = _with_xyz(way_vertices(resolved_ways), "vlat", "vlon", "v")
    if level is None:
        level = pick_level(verts)
    # JVM grid expr from the already-computed vertex xyz — the index build
    # runs zero Python except the face-edge ring-wrap sliver (same encoder
    # as the point side, so both halves of the tier-1 equi-join agree by
    # construction; see grid_expr_from_xyz's ulp note)
    verts_g = verts.withColumn(
        "_g", grid_expr_from_xyz(F.col("vx"), F.col("vy"), F.col("vz"), level)
    )
    if materialize_dir:
        verts_g = _materialize_parquet(verts_g, f"{materialize_dir}/verts_g")
        index = _materialize_parquet(
            build_vertex_cell_index(verts_g, level),
            f"{materialize_dir}/knn_index",
            bucket_col="cell",
        )
    else:
        verts_g = verts_g.persist()
        # sorted within its cell-hash partitions, like the materialized
        # path: tier 1's sort-merge join then sorts only the point side
        index = (
            build_vertex_cell_index(verts_g, level)
            .sortWithinPartitions("cell")
            .persist()
        )
    return level, verts_g, index


def _persister(track_persists: list | None):
    """persist(df) that also appends the cached frame to ``track_persists``
    (when given) so the caller can unpersist it once the result is used."""

    def persist(df):
        df = df.persist()
        if track_persists is not None:
            track_persists.append(df)
        return df

    return persist


def _tiered_nearest(
    points: DataFrame,
    level: int,
    coarse_level: int | None,
    index: DataFrame,
    *,
    dist,
    tier_factor: float,
    rung_factor: float,
    rung_frame: DataFrame,
    brute_frame: DataFrame,
    persist,
) -> DataFrame:
    """The tiered search both kNN variants run (module docstring).

    ``index``: (cell, vs: array<struct<..., way_id>>) at ``level``.
    ``dist(c)``: squared chord from the point (px, py, pz) to the candidate
    whose fields ``c(name)`` returns — struct fields of ``vs`` in tier 1,
    top-level columns of ``rung_frame`` / ``brute_frame`` after it.
    ``tier_factor`` / ``rung_factor``: acceptance × min-edge at ``level``
    and at each coarse rung. ``rung_frame``: flat candidates (with way_id)
    keyed by their ``level`` grid id in ``_g``, re-keyed to coarse cells
    per rung. ``brute_frame``: flat candidates the brute tail scans.
    ``persist``: a ``_persister`` — every internal cached frame goes
    through it."""
    coarse_level = coarse_level if coarse_level is not None else max(level - 3, 2)

    # tier 1: single-cell equi-join against the index, explode the cell's
    # struct array AFTER the join (join output stays one row per point;
    # the explosion feeds straight into a map-side-partial min — all of it
    # whole-stage codegen; higher-order array functions are interpreted in
    # Spark and benchmarked 10× slower here), then min(struct(c2, way_id))
    # grouped by the point's carried columns. The point's cell comes from
    # grid_expr_from_xyz over the already-computed px/py/pz — pure JVM, so
    # the RECURRING assign path runs zero Python (the numpy ring UDF below
    # touches only the ~3% escapee slice); measured, this lifts the leg's
    # scaling ceiling from the UDF-mix control to the codegen controls.
    p_base = _with_xyz(points.select("point_id", "lat", "lon"), "lat", "lon", "p")
    p = p_base.withColumn(
        "cell", grid_expr_from_xyz(F.col("px"), F.col("py"), F.col("pz"), level)
    )
    # NARROW aggregate + cache: group by (point_id, cell) only — point_id
    # is unique per point (documented input contract), so the extra carried
    # columns the agg used to group by were pure key-width overhead, and
    # dropping them shrinks the cached tier-1 frame from 7 columns + struct
    # to 3 (measured: the wide frame's columnar-cache build cost ~4× the
    # agg's own compute). The escapees re-acquire lat/lon/xyz from the
    # points frame (escapee step below), charged only to the small slice.
    t1 = persist(
        p.join(index, "cell", "left")
        .select(
            "point_id", "cell", "px", "py", "pz",
            F.explode_outer("vs").alias("v"),
        )
        .select(
            "point_id", "cell",
            F.struct(
                dist(lambda name: F.col(f"v.{name}")).alias("c2"),
                F.col("v.way_id").alias("way_id"),
            ).alias("m"),
        )
        .groupBy("point_id", "cell")
        .agg(F.min("m").alias("best"))
    )
    thr1 = _accept_chord2(tier_factor, level)
    # coalesce(False): a point with NO candidates has best.c2 null — it
    # must ESCALATE, not vanish through a three-valued-logic filter pair
    accept1 = (
        F.coalesce(F.col("best.c2") < thr1, F.lit(False))
        & ~is_corner_cell(F.col("cell"), level)
    )
    out_cols = lambda df: df.select(
        "point_id",
        F.col("best.way_id").alias("way_id"),
        _chord2_to_m(F.col("best.c2")).alias("dist_m"),
    )
    ok1 = out_cols(t1.filter(accept1))

    sel = ("point_id", "way_id", "dist_m")
    outs = [ok1.select(*sel)]

    def escapee_step(left, widen):
        """Size the escapees ``left`` (off a persisted frame) with one
        bounded id fetch (module docstring). Above the cut-over, persist
        and count ``widen(left)``, the columns the rungs read; at or below
        it, cache nothing and return the points the ids select.
        -> (escapee frame, count)"""
        # the orderBy makes the limit a top-k (TakeOrderedAndProject). A
        # bare limit() plans generated code whose row counter Spark names
        # from a global sequence, so every batch would compile two classes
        ids = (
            left.select("point_id").orderBy("point_id").limit(_BRUTE_CUTOVER + 1)
            .agg(F.collect_list("point_id")).collect()[0][0]
        )
        if len(ids) > _BRUTE_CUTOVER:
            esc = persist(widen(left))
            return esc, esc.count()
        if not ids:
            return None, 0
        # one array literal, which generated code reads as data: an IN
        # list would inline each id and recompile for every batch
        return p_base.filter(F.array_contains(F.lit(ids), F.col("point_id"))), len(ids)

    esc_cols = ("point_id", "lat", "lon", "px", "py", "pz", "cell")
    esc, n_esc = escapee_step(
        t1.filter(~accept1).select("point_id", "cell"),
        lambda df: df.join(p_base, "point_id").select(*esc_cols),
    )

    # escalation ladder: broadcast the (small) escalated point set,
    # ring-expanded at a coarser level (UDF wrap only on this small side),
    # against the CACHED candidate frame re-keyed by JVM bit shifts — no
    # second candidate-side Python pass. The FIRST rung is d=1 (level-1):
    # escapees overwhelmingly just miss the tight tier-1 bound rather than
    # sit in empty space (measured 108,977/109,019 on the bench corpus),
    # and the d=1 ring has 16× fewer sub-cells than a d=3 jump — 11M
    # candidate pairs vs 183M, collapsing the dominant rung's cost. The
    # remaining rungs grow the radius 8× per step (d=3) as before, so
    # genuinely isolated points still converge in O(log) rungs; the
    # escapee step after each rung short-circuits the ladder.
    # Every rung's accepted best is the GLOBAL argmin (the ring bound
    # proof is per-rung), so the ladder shape never changes results.
    rungs = []
    if level - 1 > coarse_level and level - 1 >= 2:
        rungs.append(level - 1)
    c = coarse_level
    while True:
        rungs.append(c)
        if c <= 4:
            break
        c = max(c - 3, 4)
    for coarse in rungs:
        if n_esc <= _BRUTE_CUTOVER:
            # a rung costs a full cached-candidate re-key scan + probe join
            # (~O(n_candidates) floor) no matter how few escapees remain;
            # once the population is this small the one-shot brute tail is
            # cheaper than ANY further rung — skip the rest of the ladder
            break
        e = esc.select(
            "point_id", "px", "py", "pz",
            is_corner_cell(
                coarse_cell_expr(F.col("cell"), level, coarse), coarse
            ).alias("corner"),
            F.explode(
                ring_grid_udf(coarse)(F.col("lat"), F.col("lon"))
            ).alias("ccell"),
        )
        vc = rung_frame.withColumn(
            "ccell", coarse_cell_expr(F.col("_g"), level, coarse)
        )
        tk = persist(
            vc.join(_maybe_broadcast(e, n_esc, _RING_BROADCAST_MAX), "ccell")
            .select(
                "point_id", "corner",
                F.struct(
                    dist(F.col).alias("c2"), F.col("way_id").alias("way_id")
                ).alias("m"),
            )
            .groupBy("point_id", "corner")
            .agg(F.min("m").alias("best"))
        )
        thr = _accept_chord2(rung_factor, coarse)
        ok = tk.filter(~F.col("corner") & (F.col("best.c2") < thr))
        outs.append(out_cols(ok).select(*sel))
        # the accepted-id side is ≤ the escapee count — hint it small only
        # when that bound is known-broadcastable, so the per-rung anti-join
        # never shuffles the escapee frame in the common case
        esc, n_esc = escapee_step(
            esc.join(
                _maybe_broadcast(ok.select("point_id"), n_esc, _ESC_BROADCAST_MAX),
                "point_id",
                "left_anti",
            ),
            lambda df: df,
        )

    # brute tail: the early-cutover remainder, or nothing within
    # ~0.95·min_edge(4) ≈ 350 km (open ocean) / a cube-corner straggler —
    # broadcast NL join over the cached candidates
    if n_esc == 0:
        return _union_all(outs)
    t3 = (
        brute_frame.crossJoin(F.broadcast(esc.select("point_id", "px", "py", "pz")))
        .select("point_id", dist(F.col).alias("c2"), "way_id")
        .groupBy("point_id")
        .agg(F.min(F.struct("c2", "way_id")).alias("best"))
    )
    outs.append(out_cols(t3).select(*sel))
    return _union_all(outs)


def _union_all(frames):
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def knn_nearest_way(
    points: DataFrame,
    resolved_ways: DataFrame | None,
    level: int | None = 12,
    coarse_level: int | None = None,
    materialize_dir: str | None = None,
    prebuilt=None,
    track_persists: list | None = None,
) -> DataFrame:
    """points(point_id, lat, lon) × ways(way_id, geom) → (point_id, way_id,
    dist_m). Exact; deterministic ties on way_id. level=None → density-
    adaptive.

    ``track_persists``: pass a list to receive every INTERNAL frame this
    call persists (tier-1, per-rung candidates, escapee sets — NOT the
    shared prebuilt index); the caller unpersists them when done consuming
    the result. Required for long-running repeated callers (the streaming
    foreachBatch path): Spark's CacheManager holds strong references to
    cached plans, so without it per-batch cache entries accumulate
    unboundedly (ADVICE r3).

    ``materialize_dir``: cluster-scale mode — the vertex frame and the
    cell index are written as parquet (index bucketed on ``cell``) and
    re-read, instead of ``.persist()``. On a 1000-executor run the
    persisted frames would not fit (or survive) executor memory; the
    materialized form is also resumable and lets the tier-1 join read a
    pre-bucketed index side. Single-node bench keeps the persist default.
    Results are bit-identical either way (test-asserted).

    ``prebuilt``: a build_knn_index() result — skips the index build
    entirely (streaming / repeated-query-batch reuse)."""
    if prebuilt is not None:
        level, verts_g, index = prebuilt
    else:
        level, verts_g, index = build_knn_index(
            resolved_ways, level, materialize_dir
        )
    return _tiered_nearest(
        points, level, coarse_level, index,
        dist=_vertex_chord2,
        tier_factor=_ACCEPT_FACTOR,
        rung_factor=_ACCEPT_FACTOR,
        rung_frame=verts_g,
        brute_frame=verts_g,
        persist=_persister(track_persists),
    )


def way_segments(resolved_ways: DataFrame) -> DataFrame:
    """(way_id, ax..az, bx..bz) unit-sphere segment endpoints."""
    pairs = F.arrays_zip(
        F.slice("geom", 1, F.size("geom") - 1).alias("a"),
        F.slice("geom", 2, F.size("geom") - 1).alias("b"),
    )
    segs = resolved_ways.select(
        "way_id", F.explode(pairs).alias("s")
    ).select(
        "way_id",
        F.col("s.a.lat").alias("alat"), F.col("s.a.lon").alias("alon"),
        F.col("s.b.lat").alias("blat"), F.col("s.b.lon").alias("blon"),
    )
    segs = _with_xyz(segs, "alat", "alon", "a")
    return _with_xyz(segs, "blat", "blon", "b")


def _point_seg_chord2(c):
    """Squared-chord distance from P (px, py, pz) to the great-circle arc
    A→B whose endpoint fields ``c(name)`` returns, as pure column math
    (hand-expanded cross/dot products; zero-length segments fall back to
    the endpoint distance)."""
    px, py, pz = F.col("px"), F.col("py"), F.col("pz")
    ax, ay, az = c("ax"), c("ay"), c("az")
    bx, by, bz = c("bx"), c("by"), c("bz")
    nx = ay * bz - az * by
    ny = az * bx - ax * bz
    nz = ax * by - ay * bx
    nn2 = nx * nx + ny * ny + nz * nz
    # foot-of-perpendicular inside the arc ⇔ (A×P)·n ≥ 0 ∧ (P×B)·n ≥ 0
    apx = ay * pz - az * py
    apy = az * px - ax * pz
    apz = ax * py - ay * px
    pbx = py * bz - pz * by
    pby = pz * bx - px * bz
    pbz = px * by - py * bx
    within = (
        (apx * nx + apy * ny + apz * nz >= 0)
        & (pbx * nx + pby * ny + pbz * nz >= 0)
    )
    s = (px * nx + py * ny + pz * nz) / F.sqrt(nn2)
    gc_c2 = 2.0 - 2.0 * F.sqrt(F.greatest(F.lit(0.0), 1.0 - s * s))
    end_c2 = F.least(
        _chord2(px, py, pz, ax, ay, az), _chord2(px, py, pz, bx, by, bz)
    )
    return F.when(
        (nn2 > 1e-24) & within, F.least(gc_c2, end_c2)
    ).otherwise(end_c2)


def build_segment_cell_index(segs: DataFrame, level: int) -> DataFrame:
    """(cell, vs: array<struct<ax..bz, way_id>>) — each segment registered
    at every wrapped-ring cell of ≤½-min-edge spaced samples along its
    chord. Sample positions are JVM arithmetic (lerp on the chord,
    renormalized, xyz→lat/lon); only the ring encode is the UDF."""
    piece = 0.5 * _MIN_EDGE_RAD / (1 << level)  # target ON-ARC spacing (rad)
    chord = F.sqrt(
        _chord2(F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"))
    )
    # normalized-lerp samples are equally spaced on the CHORD; projecting
    # to the arc stretches spacing by ≤ 1/cos(θ/2) (θ = segment arc,
    # cos(θ/2) = √(1 − (chord/2)²)). Fold that stretch into n_pieces so
    # the ½-min-edge soundness bound holds on the arc for ANY segment arc
    # < 180°, not just short ones (round-2 ADVICE).
    half_cos = F.sqrt(
        F.greatest(F.lit(1e-12), 1.0 - (chord / 2.0) * (chord / 2.0))
    )
    n_pieces = F.greatest(
        F.lit(1), F.ceil(chord / (F.lit(piece) * half_cos)).cast("int")
    )
    k = F.explode(F.sequence(F.lit(0), n_pieces)).alias("k")
    t = F.col("k").cast("double") / F.col("np").cast("double")
    qx = F.col("ax") + t * (F.col("bx") - F.col("ax"))
    qy = F.col("ay") + t * (F.col("by") - F.col("ay"))
    qz = F.col("az") + t * (F.col("bz") - F.col("az"))
    qn = F.sqrt(qx * qx + qy * qy + qz * qz)
    qlat = F.degrees(F.asin(qz / qn))
    qlon = F.degrees(F.atan2(qy, qx))
    seg_struct = F.struct("ax", "ay", "az", "bx", "by", "bz", "way_id").alias("v")
    samples = (
        segs.withColumn("np", n_pieces)
        .select(seg_struct, "ax", "ay", "az", "bx", "by", "bz", "np", k)
        .select("v", qlat.alias("qlat"), qlon.alias("qlon"))
    )
    ring = ring_grid_udf(level)
    return (
        samples.withColumn("cell", F.explode(ring(F.col("qlat"), F.col("qlon"))))
        # a segment can register the same cell through several samples —
        # dedup before the aggregation so index arrays stay tight
        .dropDuplicates(["cell", "v"])
        .groupBy("cell")
        .agg(F.collect_list("v").alias("vs"))
    )


def knn_nearest_way_segments(
    points: DataFrame,
    resolved_ways: DataFrame,
    level: int | None = 12,
    coarse_level: int | None = None,
    track_persists: list | None = None,
) -> DataFrame:
    """points × ways → (point_id, way_id, dist_m) where dist is to the
    nearest point ON the way's polyline (great-circle segments), exact,
    ties on way_id. Same tiered search as the vertex variant.

    ``track_persists``: as in :func:`knn_nearest_way` — receives every
    frame this call persists (segments and index included) so repeated
    callers can free them."""
    persist = _persister(track_persists)
    segs = persist(way_segments(resolved_ways))
    if level is None:
        verts = way_vertices(resolved_ways)
        level = pick_level(_with_xyz(verts, "vlat", "vlon", "v"))
    index = persist(build_segment_cell_index(segs, level))
    return _tiered_nearest(
        points, level, coarse_level, index,
        dist=_point_seg_chord2,
        tier_factor=_SEG_ACCEPT_FACTOR,
        rung_factor=_RUNG_SEG_FACTOR,
        # one row per (cell, registered segment): the rungs re-key the
        # index's registrations, the same candidates tier 1 explodes
        rung_frame=index.select(F.col("cell").alias("_g"), F.inline("vs")),
        brute_frame=segs,
        persist=persist,
    )
