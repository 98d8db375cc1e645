"""Independent numpy references for the enrichment outputs: brute-force
nearest vertex and an even-odd ray cast over every streamed point."""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8
PIP_EPS = 1e-12
# the operator and numpy derive unit vectors with different libm calls;
# a nearest vertex may differ only between candidates this close
DIST_TOL_M = 1e-3
# points per brute-force block (block × vertices × 3 doubles in memory)
KNN_CHUNK = 32


def _xyz(lat, lon):
    la, lo = np.radians(lat), np.radians(lon)
    return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=-1)


def vertex_arrays(way_ids, geoms):
    """(xyz[n,3], way_id[n]) of every way vertex."""
    lat = np.array([y for g in geoms for _, y in g])
    lon = np.array([x for g in geoms for x, _ in g])
    wid = np.repeat(way_ids, [len(g) for g in geoms])
    return _xyz(lat, lon), wid


def _dist_m(c2):
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(c2) / 2.0)


def check_knn(run, got, pts_pdf, verts, ids) -> None:
    """``got`` (pandas: point_id, way_id, dist_m) has exactly one row for
    every point in ``ids`` and no other, at the brute-force minimum
    distance; the way is the brute-force one unless another vertex ties
    within DIST_TOL_M."""
    vxyz, vwid = verts
    dup = int(got["point_id"].duplicated().sum())
    got = got.drop_duplicates("point_id").set_index("point_id")
    missing = len(np.setdiff1d(ids, got.index))
    extra = len(np.setdiff1d(got.index, ids))
    ids = np.intersect1d(ids, got.index)
    pxyz = _xyz(pts_pdf["lat"].to_numpy()[ids], pts_pdf["lon"].to_numpy()[ids])
    way = got.loc[ids, "way_id"].to_numpy()
    dist = got.loc[ids, "dist_m"].to_numpy()
    bad = 0
    for a in range(0, len(ids), KNN_CHUNK):
        b = slice(a, a + KNN_CHUNK)
        d = _dist_m(((pxyz[b, None, :] - vxyz[None, :, :]) ** 2).sum(axis=2))
        best = d.min(axis=1)
        way_best = np.where(vwid[None, :] == way[b, None], d, np.inf).min(axis=1)
        ok = (np.abs(dist[b] - best) <= DIST_TOL_M) & (np.abs(way_best - best) <= DIST_TOL_M)
        bad += int((~ok).sum())
    run.check(bad + dup + missing + extra == 0,
              f"kNN: {bad} wrong, {dup} duplicated, {missing} missing, {extra} "
              f"unexpected of {len(ids)} points")


def _inside(px, py, ring):
    """Even-odd parity with the boundary counted inside — the operator's
    arithmetic, in the same operation order — for arrays of points."""
    xings = np.zeros(len(px), dtype=np.int64)
    edge = np.zeros(len(px), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        span = (ay > py) != (by > py)
        if ay != by:
            xint = (bx - ax) * (py - ay) / (by - ay) + ax
            xings += span & (px < xint)
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        edge |= ((np.abs(cross) < PIP_EPS)
                 & (min(ax, bx) - PIP_EPS <= px) & (px <= max(ax, bx) + PIP_EPS)
                 & (min(ay, by) - PIP_EPS <= py) & (py <= max(ay, by) + PIP_EPS))
    return (xings % 2 == 1) | edge


def check_pip(run, got, pts_pdf, polys, ids) -> None:
    """``got`` (pandas: point_id, poly_id, kind) holds exactly the ray
    cast's (point, polygon) pairs for the points in ``ids``, each once,
    with the polygon's kind."""
    dup = int(got.duplicated(["point_id", "poly_id"]).sum())
    px = pts_pdf["lon"].to_numpy()[ids]
    py = pts_pdf["lat"].to_numpy()[ids]
    want = set()
    for poly_id, _kind, ring in polys:
        want.update((int(pid), poly_id) for pid in ids[_inside(px, py, ring)])
    pairs = set(zip(got["point_id"].astype(int), got["poly_id"].astype(int)))
    kinds = {poly_id: kind for poly_id, kind, _ring in polys}
    wrong_kind = int((got["poly_id"].map(kinds) != got["kind"]).sum())
    run.check(pairs == want and dup == 0 and wrong_kind == 0,
              f"PIP: {len(pairs ^ want)} pairs differ from the ray cast, {dup} "
              f"duplicated, {wrong_kind} with the wrong kind")
