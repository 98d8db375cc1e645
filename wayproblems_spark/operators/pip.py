"""G4 — point-in-polygon via broadcast cell-prefix join + codegen ray cast.

Physical plan (SURVEY.md §2.1 G4): the polygon layer is small relative to
the point side (admin/landuse boundaries vs billions of points), so we

  1. cover each polygon's bbox with S2 cells at `level`
     (STRtree-analog bucketing); build TWO small broadcast tables —
     (cell, poly_id, kind) buckets and a flat (poly_id, edge) table —
     instead of duplicating the full ring array into every bucket row.
     One Arrow batch kernel, :func:`polygon_index_tables`, builds them
     (and the overlay's representative-point table) from a batch of
     polygon rows; :func:`_build_index` places it either on the driver
     (over ``polys.toArrow()``, shipped back through
     ``session.local_frame``) or executor-parallel (``mapInArrow``, one
     pass per table) for polygon layers past the driver's single-core
     budget, e.g. 10^5+ per-building footprints. Both placements run
     the same kernel, so the tables are identical,
  2. **broadcast**-join buckets on the point's cell — no shuffle of the
     big side — then broadcast-join the candidate (point, poly) pairs
     against the edge table on poly_id, and
  3. run the exact even-odd ray cast as a *whole-stage-codegen hash
     aggregate* (:func:`ray_cast_hits`, shared with the overlay): one
     exploded row per (point, candidate-poly, edge), `sum(crossing) % 2`
     for parity plus `max(on_edge)` for the boundary-inside tie rule. No
     Python and no interpreted higher-order array expression in the hot
     path (the round-3 `F.aggregate` fold was the expression class
     measured ~10x slower than codegen — VERDICT r3 "wrong #1").

Because the edge join is a broadcast hash join, each candidate pair's
edge rows stay inside the producing task, so the map-side partial
aggregate collapses them back to ~one row per (point, poly) before the
exchange — shuffle volume is the candidate-pair count, not the edge
multiplicity.

Tie rule: a point exactly on a polygon edge counts as INSIDE
(FIXTURES.md §4), implemented as an explicit on-edge test with eps=1e-12
on the cross product (degree-space). Arithmetic (intersection-x formula,
operand order) is unchanged from the fold version, so results are
bit-identical (q15 oracle stays hash-exact).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .cells import covering_cells, with_cell

EPS = 1e-12

# bucket rows carry the polygon's outer-ring bbox (normalized [0,360)
# coords when wrap) so the containment join can drop (point, poly)
# candidates BEFORE the edge explosion (round 7; guide §2.3): a point
# outside the bbox (±2·EPS, matching the on-edge tie tolerance) has even
# ray-cast parity and no on-edge hit by construction, so the filter can
# only remove rows the parity aggregate would discard anyway.
_BUCKET_SCHEMA = (
    "cell long, poly_id long, kind string, "
    "xmin double, xmax double, ymin double, ymax double, wrap boolean"
)
_EDGE_SCHEMA = "poly_id long, ax double, ay double, bx double, by double, wrap boolean"
# the overlay's per-polygon row: first outer-ring vertex + outer-ring bbox
_REP_SCHEMA = (
    "poly_id long, rx double, ry double, rwrap boolean, "
    "xmin double, xmax double, ymin double, ymax double"
)
_SCHEMAS = {"buckets": _BUCKET_SCHEMA, "edges": _EDGE_SCHEMA, "reps": _REP_SCHEMA}


def _poly_cover(rings, wrap, level: int, samples: int | None):
    """int64 covering-cell ids for one normalized polygon (bbox of the
    outer ring; holes lie inside it). Rings are (lon, lat) sequences."""
    ring = np.asarray(rings[0], dtype=np.float64)
    lon0, lon1 = ring[:, 0].min(), ring[:, 0].max()
    if wrap:
        # ring lons live in shifted [0, 360) space; map the bbox back
        # to a lon0 > lon1 wrap range, which covering_cells splits at
        # ±180 and unions
        lon1 = lon1 - 360.0
    return covering_cells(
        lon0, ring[:, 1].min(), lon1, ring[:, 1].max(), level, samples=samples
    ).astype(np.int64)


def _arrow_schemas(names) -> dict:
    """{table name: pyarrow schema} for :func:`polygon_index_tables`,
    resolved on the driver (parsing DDL needs a Spark session, which an
    executor's Python worker does not have)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    return {n: to_arrow_schema(DataType.fromDDL(_SCHEMAS[n])) for n in names}


def _flat_rings(arr):
    """(lon, lat, lengths) of a list<struct<lon, lat>> Arrow array: the
    vertices of every ring back to back, and each ring's vertex count
    (0 for a null ring)."""
    import pyarrow.compute as pc

    pts = arr.flatten()
    lon = pc.struct_field(pts, "lon").to_numpy(zero_copy_only=False)
    lat = pc.struct_field(pts, "lat").to_numpy(zero_copy_only=False)
    lengths = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    return lon.astype(np.float64), lat.astype(np.float64), lengths


def polygon_index_tables(batch, level: int, samples, schemas: dict) -> dict:
    """The index tables of one batch of polygon rows — the ONE builder
    behind both placements of :func:`_build_index`.

    ``batch`` is a pyarrow Table or RecordBatch of ``(poly_id, kind,
    ring[, holes])`` with rings ``list<struct<lon, lat>>``, closed
    (first == last). ``samples`` is the cover's sample-grid density: an
    int, None for ``covering_cells``' auto density, or a function of
    ``(rings, level)`` giving each polygon its own. ``schemas`` names the
    tables to build (any of ``buckets``, ``edges``, ``reps``), mapped to
    the Arrow schemas from :func:`_arrow_schemas`; the result maps the
    same names to ``pyarrow.Table``s.

    Holes: hole rings contribute their edges to the same even-odd parity
    count, which excludes hole interiors with no extra logic; a point
    exactly ON a hole boundary follows the same boundary-counts-as-INSIDE
    tie rule as the outer ring.

    Antimeridian handling: a polygon whose outer ring's naive lon span
    exceeds 180° is taken to cross ±180 (Fiji/Chukotka style — the
    alternative, a single polygon genuinely wider than half the globe,
    is not supported); every ring's negative lons are shifted by +360 so
    the polygon lives in continuous [0, 360) space, and the wrap flag
    tells the ray cast to shift matching points' lons the same way."""
    import pyarrow as pa

    def col(name):
        c = batch.column(name)
        return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

    n = batch.num_rows
    poly_id = col("poly_id").cast(pa.int64()).to_numpy(zero_copy_only=False)
    # outer rings, then every hole ring, as one flat vertex array; each
    # ring knows its polygon
    lon, lat, lengths = _flat_rings(col("ring"))
    ring_poly = np.arange(n)
    if "holes" in batch.column_names:
        holes = col("holes")
        h_lon, h_lat, h_lengths = _flat_rings(holes.flatten())
        per_poly = holes.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
        lon, lat = np.concatenate([lon, h_lon]), np.concatenate([lat, h_lat])
        lengths = np.concatenate([lengths, h_lengths])
        ring_poly = np.concatenate([ring_poly, np.repeat(np.arange(n), per_poly)])
    starts = np.cumsum(lengths) - lengths
    vert_poly = np.repeat(ring_poly, lengths)

    # per-polygon outer-ring extent; wrap, then shift, then the bbox in
    # the normalized space
    o_start, o_len = starts[:n], lengths[:n]
    n_outer = int(o_len.sum())
    span = lambda ufunc, v: ufunc.reduceat(v[:n_outer], o_start) if n else v[:0]
    wrap = span(np.maximum, lon) - span(np.minimum, lon) > 180.0
    lon = np.where(wrap[vert_poly] & (lon < 0), lon + 360.0, lon)
    xmin, xmax = span(np.minimum, lon), span(np.maximum, lon)
    ymin, ymax = span(np.minimum, lat), span(np.maximum, lat)

    cols = {}
    if "buckets" in schemas:
        outer = np.stack([lon, lat], axis=1)
        covers = []
        for i in range(n):
            rings = [outer[o_start[i] : o_start[i] + o_len[i]]]
            s = samples(rings, level) if callable(samples) else samples
            covers.append(_poly_cover(rings, wrap[i], level, s))
        owner = np.repeat(np.arange(n), [c.size for c in covers])
        cols["buckets"] = [
            np.concatenate(covers) if covers else np.empty(0, np.int64),
            poly_id[owner],
            col("kind").take(pa.array(owner, type=pa.int64())),
            xmin[owner], xmax[owner], ymin[owner], ymax[owner], wrap[owner],
        ]
    if "edges" in schemas:
        # consecutive vertex pairs that stay inside one ring
        keep = np.ones(max(lon.size - 1, 0), dtype=bool)
        ends = (starts + lengths - 1)[lengths > 0]
        keep[ends[ends < keep.size]] = False
        owner = vert_poly[:-1][keep]
        cols["edges"] = [
            poly_id[owner],
            lon[:-1][keep], lat[:-1][keep], lon[1:][keep], lat[1:][keep],
            wrap[owner],
        ]
    if "reps" in schemas:
        cols["reps"] = [
            poly_id, lon[o_start], lat[o_start], wrap, xmin, xmax, ymin, ymax,
        ]
    return {
        name: pa.Table.from_arrays(
            [
                c.cast(f.type) if isinstance(c, pa.Array) else pa.array(c, type=f.type)
                for c, f in zip(cols[name], schemas[name])
            ],
            schema=schemas[name],
        )
        for name in schemas
    }


def _build_index(spark, polys: DataFrame, level, samples, names, distributed, persist):
    """(level, *frames) — the index tables ``names`` of a polygon layer,
    built by :func:`polygon_index_tables` in one of two placements:

    * driver (``distributed=False``): one ``polys.toArrow()`` collect,
      one kernel call, each table shipped back by ``local_frame`` (a
      ``LocalRelation``: no Python worker runs);
    * executors (``distributed=True``): one ``mapInArrow`` pass over the
      layer per table (the layer is the small side, so scanning it again
      is cheaper than caching a multi-table intermediate).

    ``distributed=None`` distributes exactly the persisted builds: an
    unpersisted ``mapInArrow`` frame would re-run its Python pass on
    every downstream broadcast. ``persist=True`` persists and
    materializes every frame."""
    if distributed is None:
        distributed = persist
    src = polys.select(
        *[c for c in ("poly_id", "kind", "ring", "holes") if c in polys.columns]
    )
    schemas = _arrow_schemas(names)
    if distributed:

        def one_pass(name):
            want = {name: schemas[name]}

            def gen(batches):
                for batch in batches:
                    yield from polygon_index_tables(batch, level, samples, want)[
                        name
                    ].to_batches()

            return src.mapInArrow(gen, _SCHEMAS[name])

        frames = [one_pass(n) for n in names]
    else:
        tables = polygon_index_tables(src.toArrow(), level, samples, schemas)
        frames = [local_frame(spark, tables[n], _SCHEMAS[n]) for n in names]
    if persist:
        frames = [f.persist() for f in frames]
        for f in frames:
            f.count()
    return (level, *frames)


def build_pip_index(
    spark,
    polys: DataFrame,
    level: int = 10,
    samples: int | None = None,
    distributed: bool | None = None,
    persist: bool = True,
):
    """(level, buckets, edges) — the reusable static side of the PIP
    operator (cell covers + flat edge table, both broadcast-sized).
    Build ONCE and pass as ``prebuilt=`` to :func:`point_in_polygon` when
    many point batches query the same polygon layer — the production
    shape (the layer is static; points stream), same pattern as
    knn.build_knn_index (which likewise packs its build level into the
    returned tuple so a caller cannot query at a mismatched level) and
    similarity.build_ivf_index.

    Both frames are **persisted and materialized** here (``persist=True``)
    so repeated / streaming callers pay the cover build once, not per
    batch (VERDICT r4 "wrong #2": the per-call rebuild was a ~1.3 s
    parallelism-independent floor on the pip_contains leg). The broadcast
    itself is not cached: every query plans both ``BroadcastExchange``s
    again, each one a small job over the cached table. The caller owns
    the cache entries — call ``unpersist()`` on both frames when done
    with the index.

    The tables come from the one polygon-index kernel
    (:func:`polygon_index_tables`), on the driver (``distributed=False``)
    or executor-parallel via ``mapInArrow`` (``distributed=True``) —
    identical output tables (asserted in tests). Default
    (``None``): persisted builds distribute — the driver loop is a
    parallelism-independent O(polys · samples²) single-core bound (at
    dense sampling it was most of the r6 pip_build leg) — while one-shot
    (``persist=False``) builds stay on the driver."""
    return _build_index(
        spark, polys, level, samples, ("buckets", "edges"), distributed, persist
    )


def unpersist_pip_index(prebuilt) -> None:
    """Free the cache entries of a :func:`build_pip_index` result."""
    _level, buckets, edges = prebuilt
    buckets.unpersist()
    edges.unpersist()


def point_in_polygon(
    spark,
    points: DataFrame,
    polys: DataFrame | None,
    level: int = 10,
    id_col: str = "point_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    samples: int | None = None,
    prebuilt=None,
) -> DataFrame:
    """point_id → poly_id (one row per containing polygon; points in no
    polygon are absent — left-join downstream if needed).

    ``id_col`` must be UNIQUE per point: the parity ray cast aggregates
    crossings by (poly_id, id, kind), so two input rows sharing an id
    would sum their crossing counts together and a duplicated inside
    point would silently cancel to even parity (ADVICE r4). Deduplicate
    or synthesize a unique key upstream if the input can repeat ids.

    With ``prebuilt=`` (a :func:`build_pip_index` result) the `level`
    argument is IGNORED — point cells are assigned at the level the
    index was built at, so a mismatched caller level cannot silently
    empty the containment join (ADVICE r4 medium)."""
    if prebuilt is not None:
        level, buckets, edges = prebuilt
    else:
        # one-shot path: build unpersisted — nothing outlives this call,
        # so leaving cache entries behind would leak CacheManager refs
        level, buckets, edges = build_pip_index(
            spark, polys, level, samples, persist=False
        )
    pts = with_cell(points, lat_col, lon_col, level, out="cell")

    # (point, candidate-poly) pairs: a point has exactly one cell and the
    # bucket table has one row per (cell, poly), so pairs are unique here.
    # bbox prefilter BEFORE the edge explosion (round 7; guide §2.3):
    # the bucket row carries the polygon's outer-ring bbox; a point
    # outside it (±2·EPS — the on-edge tie tolerance) can contribute no
    # on-edge hit (all edges lie inside the bbox) and only an even
    # crossing count (a horizontal ray strictly left/right/above/below a
    # closed ring set crosses it an even number of times), so the parity
    # aggregate would discard the pair anyway — the filter just stops it
    # from multiplying by the polygon's edge count first.
    #
    # wrap polygons carry shifted [0,360) lons; shift matching points'
    # negative lons the same way (bucket wrap in the prefilter, edge wrap
    # in the ray cast). For wrap=false the value is exactly the raw lon,
    # so non-wrap results are bit-identical.
    px = F.when(
        F.col("wrap") & (F.col(lon_col) < 0), F.col(lon_col) + 360.0
    ).otherwise(F.col(lon_col))
    _slack = F.lit(2.0 * EPS)
    in_bbox = (
        (px >= F.col("xmin") - _slack)
        & (px <= F.col("xmax") + _slack)
        & (F.col(lat_col) >= F.col("ymin") - _slack)
        & (F.col(lat_col) <= F.col("ymax") + _slack)
    )
    cand = pts.join(F.broadcast(buckets), "cell").filter(in_bbox).select(
        id_col, lat_col, lon_col, "poly_id", "kind"
    )
    ex = cand.join(F.broadcast(edges), "poly_id")
    hit = ray_cast_hits(
        ex, ("poly_id", id_col, "kind"), px, F.col(lat_col),
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
    )
    return hit.select(id_col, "poly_id", "kind")


def ray_cast_hits(ex: DataFrame, keys, px, py, ax, ay, bx, by) -> DataFrame:
    """The ``keys`` groups of ``ex`` (one row per (point, edge)) whose
    point (px, py) lies inside the edges' rings: even-odd parity, with a
    point on an edge (within EPS) counted inside. The q15-locked
    arithmetic shared by PIP and the overlay's representative-point
    test; callers pass x columns already shifted for antimeridian wrap.
    Keeps the ``keys`` columns plus the ``_xings`` / ``_edge`` counts."""
    # crossing: edge straddles the horizontal line through py, and the
    # intersection x is strictly right of px
    straddles = (ay > py) != (by > py)
    xint = (bx - ax) * (py - ay) / (by - ay) + ax
    crossing = straddles & (px < xint)
    # on-edge: collinear + within bbox
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    on_edge = (
        (F.abs(cross) < EPS)
        & (px >= F.least(ax, bx) - EPS)
        & (px <= F.greatest(ax, bx) + EPS)
        & (py >= F.least(ay, by) - EPS)
        & (py <= F.greatest(ay, by) + EPS)
    )
    agg = ex.groupBy(*keys).agg(
        F.sum(F.when(crossing, F.lit(1)).otherwise(F.lit(0))).alias("_xings"),
        F.max(F.when(on_edge, F.lit(1)).otherwise(F.lit(0))).alias("_edge"),
    )
    return agg.filter((F.col("_xings") % 2 == 1) | (F.col("_edge") == 1))
