"""Seeded input generators. Every input of every workload derives from the
``--seed`` argument alone; nothing is read from outside the checkout.

* ``pages_corpus``: the uniform page corpus of the validation job, in the
  page micro-format the program parses (``OSMNODE`` / ``OSMWAY`` lines
  inside entity-escaped HTML).
* ``clustered_ways`` / ``clustered_polys`` / ``clustered_points``: layers
  clustered around Zipf-weighted city centres over a sparse rural
  background — the dense urban cells are the kNN mega-cells.
"""

from __future__ import annotations

import datetime
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime.datetime(2026, 1, 1)

_WORDS = (
    "road survey lanes speed access tagging volunteers validation map "
    "junction bridge tunnel cycle footway surface quality review region"
).split()

_HIGHWAYS = (
    "residential", "primary", "secondary", "tertiary", "unclassified",
    "living_street", "track", "service", "footway", "cycleway", "path",
    "motorway", "trunk", "road", "pedestrian", "steps", "construction",
    "bridleway", "proposed",
)

# (key, values) pairs chosen so the rule catalogue fires widely while most
# ways stay clean; values never contain TAB, newline or '='.
_TAGS = (
    ("lanes", ("1", "2", "3", "0", "9", "abc", "2 ")),
    ("turn:lanes", ("left|right", "left|through|right", "right|left", "zz|left")),
    ("maxspeed", ("30", "50", "100", "walk", "50 mph", "none", "signals")),
    ("maxheight", ("1.5", "3.5m", "default", "xx")),
    ("maxwidth", ("1.2", "2.5", "broad")),
    ("layer", ("0", "1", "-1", "12", "x", "+2")),
    ("ref", ("B64", "L778", "-", "#")),
    ("oneway", ("yes", "no", "-1", "0", "true")),
    ("sidewalk", ("both", "left", "right", "no", "separate", "weird")),
    ("segregated", ("yes", "no", "maybe")),
    ("construction", ("yes", "no", "minor", "primary")),
    ("tracktype", ("grade1", "grade3", "grade9")),
    ("surface", ("paved", "asphalt", "dirt", "gravel")),
    ("tunnel", ("yes", "no", "building_passage")),
    ("bridge", ("yes", "no")),
    ("junction", ("roundabout",)),
    ("name", ("Hauptstrasse", "Feldweg")),
    ("footway", ("sidewalk", "crossing", "left", "odd")),
    ("lit", ("yes", "no", "24/7", "dim")),
    ("overtaking", ("yes", "no", "caution", "odd")),
    ("source:maxspeed", ("DE:urban", "DE:zone30", "survey", "sign")),
    ("maxspeed:type", ("DE:rural", "DE:zone:30", "guess")),
    ("bicycle", ("yes", "no", "permissive", "private", "use_sidepath", "odd")),
    ("foot", ("yes", "no", "permissive", "private", "odd")),
    ("access", ("yes", "private", "permissive", "customers", "no")),
    ("motor_vehicle", ("yes", "no", "permissive")),
    ("cycleway", ("lane", "track", "opposite", "left", "both", "no")),
    ("cycleway:left", ("lane", "track", "no", "foo")),
    ("cycleway:right", ("lane", "track", "no", "foo")),
    ("service", ("driveway", "alley")),
    ("area", ("yes",)),
    ("destination:lanes", ("A|B", "A|B|C")),
)

# uniform corpus bbox (DE-like)
LAT0, LAT1 = 51.0, 52.5
LON0, LON1 = 8.0, 9.5


def _escape(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html(url: str, text: str) -> bytes:
    return (
        "<!DOCTYPE html><html><head><title>" + _escape(url)
        + '</title></head><body><nav>home | map</nav><article id="main">'
        + _escape(text)
        + "</article><footer>&copy; bench</footer></body></html>"
    ).encode("utf-8")


WAYS_PER_PAGE = 0.6
NODES_PER_PAGE = 3.0


def pages_corpus(seed: int, n_pages: int, split: str = "wp") -> dict:
    """Pages plus the ground truth embedded in them.

    Returns ``{"pages": [(url, ts, html, text, lang)], "ways": {way_id:
    (tags, closed, n_resolved_refs)}}``. About 5% of ways
    carry a dangling node ref and ~15% are closed rings.
    """
    rng = random.Random(f"{split}:{seed}:{n_pages}")
    n_nodes = int(n_pages * NODES_PER_PAGE)
    n_ways = int(n_pages * WAYS_PER_PAGE)
    lines: list[list[str]] = [[] for _ in range(n_pages)]
    for nid in range(1, n_nodes + 1):
        lat = LAT0 + rng.random() * (LAT1 - LAT0)
        lon = LON0 + rng.random() * (LON1 - LON0)
        lines[rng.randrange(n_pages)].append(
            f"OSMNODE id={nid} lat={lat:.6f} lon={lon:.6f}"
        )
    truth = {}
    for wid in range(1, n_ways + 1):
        refs = [rng.randint(1, n_nodes) for _ in range(rng.randint(2, 6))]
        if rng.random() < 0.15:
            refs.append(refs[0])
        if rng.random() < 0.05:
            refs[rng.randrange(len(refs))] = n_nodes + 1000 + wid
        tags = {}
        if rng.random() < 0.97:
            tags["highway"] = rng.choice(_HIGHWAYS)
        for _ in range(rng.randint(0, 6)):
            k, vals = _TAGS[rng.randrange(len(_TAGS))]
            tags[k] = vals[rng.randrange(len(vals))]
        ts = (BASE_TS + datetime.timedelta(seconds=wid)).strftime("%Y-%m-%dT%H:%M:%SZ")
        tagstr = "\t".join(f"{k}={v}" for k, v in tags.items())
        lines[rng.randrange(n_pages)].append(
            f"OSMWAY id={wid} version={rng.randint(1, 9)} changeset={10_000 + wid} "
            f"uid={100 + wid % 50} user=mapper{wid % 23} ts={ts} "
            f"nodes={','.join(map(str, refs))} tags={tagstr}"
        )
        resolved = sum(1 for r in refs if r <= n_nodes)
        truth[wid] = (tags, refs[0] == refs[-1], resolved)
    pages = []
    for i in range(n_pages):
        url = f"https://bench.example/{split}/{seed}/{i:08d}"
        prose = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 40)))
        if rng.random() < 0.3:
            prose += " <tags & brackets>"
        body = lines[i] + [prose]
        rng.shuffle(body)
        text = "\n".join(body)
        pages.append((url, BASE_TS + datetime.timedelta(seconds=i), _html(url, text),
                      text, ("en", "de", "fr")[i % 3]))
    return {"pages": pages, "ways": truth}


# --------------------------------------------------------------------------
# clustered layers
# --------------------------------------------------------------------------

# clustered region bbox (central Europe)
CLAT0, CLAT1 = 49.0, 52.0
CLON0, CLON1 = 7.0, 11.0


class Cities:
    """Zipf-weighted city centres: city k gets weight 1/k^s; the top city
    is the tightest, so its kNN cells hold the most vertices."""

    def __init__(self, rng: np.random.Generator, s: float = 1.1):
        # centres on a jittered 6 × 4 lattice, ranks shuffled: cities never
        # merge, so the density profile (and the kNN cell skew) is the same
        # for every seed while the geometry is not
        gx, gy = np.meshgrid(np.arange(6), np.arange(4))
        n_cities = gx.size
        order = rng.permutation(n_cities)
        step_lon, step_lat = (CLON1 - CLON0) / 6, (CLAT1 - CLAT0) / 4
        self.lon = CLON0 + (gx.ravel()[order] + 0.5 + rng.uniform(-0.2, 0.2, n_cities)) * step_lon
        self.lat = CLAT0 + (gy.ravel()[order] + 0.5 + rng.uniform(-0.2, 0.2, n_cities)) * step_lat
        w = 1.0 / np.arange(1, n_cities + 1) ** s
        self.w = w / w.sum()
        # spread (deg): big cities are dense, small ones a little looser
        self.sigma = 0.04 + 0.05 * np.linspace(0.0, 1.0, n_cities)

    def sample(self, rng, n: int, background: float):
        """n (lat, lon) positions: a ``background`` share uniform over the
        region, the rest Gaussian around Zipf-chosen centres."""
        k = rng.choice(len(self.w), size=n, p=self.w)
        lat = self.lat[k] + rng.normal(0.0, 1.0, n) * self.sigma[k]
        lon = self.lon[k] + rng.normal(0.0, 1.0, n) * self.sigma[k] * 1.5
        bg = rng.random(n) < background
        lat[bg] = rng.uniform(CLAT0, CLAT1, bg.sum())
        lon[bg] = rng.uniform(CLON0, CLON1, bg.sum())
        return lat, lon


def clustered_ways(rng, cities: Cities, n_ways: int):
    """(way_ids, geoms): short random-walk polylines of 2-8 vertices."""
    lat0, lon0 = cities.sample(rng, n_ways, background=0.25)
    geoms = []
    nv = rng.integers(2, 9, n_ways)
    for i in range(n_ways):
        steps = rng.normal(0.0, 0.0012, (nv[i] - 1, 2))
        la = np.concatenate([[lat0[i]], lat0[i] + np.cumsum(steps[:, 0])])
        lo = np.concatenate([[lon0[i]], lon0[i] + np.cumsum(steps[:, 1] * 1.5)])
        geoms.append([(float(x), float(y)) for x, y in zip(lo, la)])
    return np.arange(1, n_ways + 1, dtype=np.int64), geoms


def clustered_polys(rng, cities: Cities, n_polys: int):
    """[(poly_id, kind, ring[(lon, lat)] closed)]: star-shaped (non-convex)
    districts around the city centres plus larger rural land-use areas."""
    lat, lon = cities.sample(rng, n_polys, background=0.3)
    out = []
    for i in range(n_polys):
        rural = i % 5 == 0
        r0 = rng.uniform(0.05, 0.15) if rural else rng.uniform(0.005, 0.03)
        k = int(rng.integers(8, 25))
        ang = np.sort(rng.uniform(0.0, 2 * math.pi, k))
        rad = r0 * rng.uniform(0.55, 1.0, k)
        ring = [(float(lon[i] + 1.5 * r * math.cos(a)), float(lat[i] + r * math.sin(a)))
                for a, r in zip(ang, rad)]
        ring.append(ring[0])
        out.append((i + 1, "landuse" if rural else "district", ring))
    return out


def clustered_points(rng, geoms, n: int, background: float = 0.001):
    """pandas frame (point_id, lat, lon, src): GPS-like pings ~200 m off a
    random way vertex, so points cluster exactly like the way network,
    plus a ``background`` share uniform over the region (they miss the
    kNN tier-1 bound and take the escalation path)."""
    import pandas as pd

    vlat = np.array([y for g in geoms for _, y in g])
    vlon = np.array([x for g in geoms for x, _ in g])
    pick = rng.integers(0, len(vlat), n)
    lat = vlat[pick] + rng.normal(0.0, 0.002, n)
    lon = vlon[pick] + rng.normal(0.0, 0.003, n)
    bg = rng.random(n) < background
    lat[bg] = rng.uniform(CLAT0, CLAT1, bg.sum())
    lon[bg] = rng.uniform(CLON0, CLON1, bg.sum())
    src = np.where(rng.random(n) < 0.7, "gps", "poi")
    return pd.DataFrame({
        "point_id": np.arange(n, dtype=np.int64),
        "lat": lat, "lon": lon, "src": src,
    })


# --------------------------------------------------------------------------
# staging: inputs are written with pyarrow, outside Spark, so staging costs
# no Spark job; the checks read outputs back the same way
# --------------------------------------------------------------------------

_LONLAT = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))


def _write(path: str, table: pa.Table, files: int) -> None:
    """``table`` as ``files`` parquet files of about equal rows (Spark
    reads each as its own partition, as it would read a repartitioned
    write)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_pages(path: str, pages, files: int = 8) -> None:
    url, ts, html, text, lang = zip(*pages)
    _write(path, pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    }), files)


def _lonlat(ring):
    return [{"lon": x, "lat": y} for x, y in ring]


def write_ways(path: str, way_ids, geoms, files: int = 4) -> None:
    _write(path, pa.table({
        "way_id": pa.array(way_ids, pa.int64()),
        "geom": pa.array([_lonlat(g) for g in geoms], _LONLAT),
    }), files)


def write_polys(path: str, polys, files: int = 4) -> None:
    ids, kinds, rings = zip(*polys)
    _write(path, pa.table({
        "poly_id": pa.array(ids, pa.int64()),
        "kind": pa.array(kinds, pa.string()),
        "ring": pa.array([_lonlat(r) for r in rings], _LONLAT),
    }), files)


def write_batches(path: str, pdf, batch_rows: int) -> None:
    """Points as a ``batch=<n>`` partitioned directory, one file per batch."""
    for b in range(-(-len(pdf) // batch_rows)):
        part = pdf.iloc[b * batch_rows:(b + 1) * batch_rows]
        _write(os.path.join(path, f"batch={b}"),
               pa.Table.from_pandas(part, preserve_index=False), 1)


def read_table(path: str, columns=None) -> pa.Table:
    """A parquet directory as written by Spark (hive partitions become
    columns; ``_SUCCESS`` and hidden files are skipped)."""
    return pq.read_table(path, columns=columns)
