"""Areal interpolation — polygon → grid-cell overlap weights.

The raster←vector half of the tiling story: spread a polygon layer's
attributes onto a regular grid proportionally to overlap AREA (areal
weighting — census-to-grid reaggregation, admin-rate rasterization),
where `tiles.py` rasterizes point counts. For every polygon and every
cell of a lon/lat graticule at `pitch` degrees this computes the exact
clipped overlap area and its fraction of the polygon's area.

Method: Sutherland–Hodgman clip of each ring against the (convex,
axis-aligned) cell rectangle, shoelace area of the clipped ring; holes
subtract (clip(outer) − Σ clip(holes) — valid because holes lie inside
the outer ring). S-H with a CONCAVE subject can emit zero-width bridge
edges when the true clip is multi-part; those contribute zero area, so
areas — the only thing consumed here — are exact anyway (documented
standard caveat; the clipped ring is not returned).

Physical shape: one `mapInPandas` pass — each polygon visits only its
bbox/pitch candidate cells (per-polygon Python over numpy coordinate
arrays; the polygon layer is the SMALL side, the engine's pip/overlay
stance — the big point/page side never sees this code). Clipping is
column-strip staged: each bbox column clips the ring ONCE against its
two x half-planes, and every cell in the column clips only that
reduced strip — O(columns·verts + cells·strip_verts), not
O(cells·verts). No shuffle at all until the optional value-spreading
aggregate (`areal_interpolate`: broadcast-join values, groupBy cell —
cardinality = touched cells). Polygons partition freely; a
mega-polygon spanning many cells is one task's loop, split upstream
with adaptive_cell_split if it ever dominates (same skew stance as G7).

Antimeridian: a ring whose lon span exceeds 180° is treated as
wrapping (the `pip.polygon_index_tables` convention): its lons shift to
[0, 360) for clipping and the emitted `cell_x` indices are mapped back
to the global grid (requires 360 to be an integer number of cells —
raised otherwise), so wrap and non-wrap polygons index one graticule.

Exactness: on exact-binary inputs (rect fixtures, lattice coords) every
S-H intersection coordinate and shoelace term stays exact in doubles,
so areas equal the closed-form rectangle-overlap products bit-for-bit —
which is what the q58 oracle checks against DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["polygon_grid_weights", "areal_interpolate"]

_OUT_DDL = (
    "poly_id long, kind string, cell_x long, cell_y long, "
    "area double, frac double"
)


def _shoelace(xs: np.ndarray, ys: np.ndarray) -> float:
    """|signed area| of a closed ring (first==last vertex)."""
    if len(xs) < 4:
        return 0.0
    return abs(float(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1]))) * 0.5


def _clip_halfplane(xs, ys, axis: int, bound: float, keep_leq: bool):
    """One S-H stage: keep the side axis<=bound (or >=). Input/output
    rings are closed; returns (xs, ys) closed, possibly length 0."""
    if len(xs) < 4:
        return xs[:0], ys[:0]
    pts = np.stack([xs[:-1], ys[:-1]], axis=1)
    n = len(pts)
    out_x, out_y = [], []
    vals = pts[:, axis]
    inside = vals <= bound if keep_leq else vals >= bound
    for i in range(n):
        j = (i + 1) % n
        a_in, b_in = inside[i], inside[j]
        ax, ay = pts[i]
        bx, by = pts[j]
        if a_in:
            out_x.append(ax)
            out_y.append(ay)
        if a_in != b_in:
            av, bv = vals[i], vals[j]
            t = (bound - av) / (bv - av)
            out_x.append(ax + t * (bx - ax))
            out_y.append(ay + t * (by - ay))
    if not out_x:
        return np.empty(0), np.empty(0)
    out_x.append(out_x[0])
    out_y.append(out_y[0])
    return np.asarray(out_x), np.asarray(out_y)


def _ring_arrays(ring):
    xs = np.asarray([p["lon"] for p in ring], dtype=np.float64)
    ys = np.asarray([p["lat"] for p in ring], dtype=np.float64)
    return xs, ys


def polygon_grid_weights(
    spark,
    polys: DataFrame,
    pitch: float = 1.0,
    min_frac: float = 0.0,
) -> DataFrame:
    """(poly_id, kind, cell_x, cell_y, area, frac) — one row per grid
    cell a polygon overlaps with positive area. Cell (i, j) spans
    [i·pitch, (i+1)·pitch) × [j·pitch, (j+1)·pitch) in lon/lat degrees;
    `frac` = cell overlap area / polygon area (holes subtracted), so a
    polygon's fracs sum to 1 (exactly, up to float addition). Rows with
    frac < `min_frac` are dropped (sliver control — dropped mass is the
    caller's accepted error, mirror of the LSH drop counters).

    Zero-area polygons emit nothing. The polys frame is the G4 shape
    (poly_id, kind, ring[, holes])."""
    has_holes = "holes" in polys.columns
    cols = ["poly_id", "kind", "ring"] + (["holes"] if has_holes else [])
    src = polys.select(*cols)
    cells_per_turn = 360.0 / pitch
    # NOTE (ADVICE r6): 360 % pitch == 0 guarantees the wrapped [0,360)
    # frame tiles with whole cells, but only 180 % pitch == 0 puts a cell
    # BOUNDARY exactly at lon 180 — for a pitch like 72 (360/5) the cell
    # straddling 180 is indexed from the wrapped origin and can disagree
    # with the index non-wrap polygons use for the same region. Callers
    # mixing wrap and non-wrap polygons near ±180 should pick a pitch
    # dividing 180; the looser check is kept for backward compatibility
    # and the straddling-cell ambiguity is documented here.
    wrap_pitch_ok = abs(cells_per_turn - round(cells_per_turn)) < 1e-9
    turn_cells = int(round(cells_per_turn))

    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("poly_id", "kind", "cell_x", "cell_y", "area", "frac")}
            for row in pdf.itertuples(index=False):
                rings = [_ring_arrays(row.ring)]
                if has_holes and row.holes is not None:
                    rings += [_ring_arrays(h) for h in row.holes]
                # wrap-shift BEFORE any area: the raw ring of an
                # antimeridian polygon traces the 360°-complement shape
                all_x = np.concatenate([r[0] for r in rings])
                wrap = float(all_x.max() - all_x.min()) > 180.0
                if wrap:
                    if not wrap_pitch_ok:
                        raise ValueError(
                            f"antimeridian polygon {row.poly_id} needs "
                            f"360 % pitch == 0 (pitch={pitch})"
                        )
                    rings = [
                        (np.where(x < 0, x + 360.0, x), y) for x, y in rings
                    ]
                total = _shoelace(*rings[0]) - sum(
                    _shoelace(*r) for r in rings[1:]
                )
                if total <= 0.0:
                    continue
                xs, ys = rings[0]
                i0 = int(np.floor(xs.min() / pitch))
                i1 = int(np.ceil(xs.max() / pitch))
                j0 = int(np.floor(ys.min() / pitch))
                j1 = int(np.ceil(ys.max() / pitch))
                for i in range(i0, i1):
                    # clip EVERY ring to the column strip once; cells in
                    # the column then clip only the reduced strips —
                    # same half-plane sequence (x0, x1, y0, y1) as a
                    # direct per-cell clip, so areas are bit-identical
                    strips = []
                    for rx, ry in rings:
                        sx, sy = _clip_halfplane(
                            rx, ry, 0, i * pitch, keep_leq=False
                        )
                        strips.append(
                            _clip_halfplane(sx, sy, 0, (i + 1) * pitch,
                                            keep_leq=True)
                        )
                    if len(strips[0][0]) < 4:
                        continue
                    gi = i - turn_cells if wrap and i * pitch >= 180.0 else i
                    for j in range(j0, j1):
                        a = 0.0
                        for ridx, (sx, sy) in enumerate(strips):
                            cx, cy = _clip_halfplane(
                                sx, sy, 1, j * pitch, keep_leq=False
                            )
                            cx, cy = _clip_halfplane(
                                cx, cy, 1, (j + 1) * pitch, keep_leq=True
                            )
                            piece = _shoelace(cx, cy)
                            a += piece if ridx == 0 else -piece
                        if a <= 0.0:
                            continue
                        frac = a / total
                        if frac < min_frac:
                            continue
                        out["poly_id"].append(row.poly_id)
                        out["kind"].append(row.kind)
                        out["cell_x"].append(gi)
                        out["cell_y"].append(j)
                        out["area"].append(a)
                        out["frac"].append(frac)
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, _OUT_DDL)


def areal_interpolate(
    weights: DataFrame,
    values: DataFrame,
    value_col: str = "value",
    id_col: str = "poly_id",
) -> DataFrame:
    """(cell_x, cell_y, <value_col>) — spread each polygon's value over
    its cells by `frac` and sum per cell (the areal-weighting estimator).
    `values` is small (one row per polygon) — broadcast join; the only
    shuffle is the cell-cardinality aggregate."""
    spread = weights.join(F.broadcast(values.select(id_col, value_col)), id_col)
    return spread.groupBy("cell_x", "cell_y").agg(
        F.sum(F.col("frac") * F.col(value_col)).alias(value_col)
    )
