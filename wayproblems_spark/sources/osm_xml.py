"""P1 — OSM XML ingest (the reference's "any libosmium format" parity,
wayproblems.cpp:21,1573: ``osmium::io::File`` opens .osm.xml as readily as
.osm.pbf). Produces the same ``ways`` / ``nodes`` tables as
``sources.osm_pbf``.

Spark distribution — splittable XML without an XML input format:
the file is cut driver-side into fixed byte ranges (no file reads; just
size arithmetic). Each range is decoded by ``mapInPandas``: the reader
seeks to its range start, reads range + a bounded overrun, and parses
exactly the top-level ``<node>``/``<way>`` elements whose START offset
falls inside its range (an element straddling the range end is completed
from the overrun; an element straddling the range START belongs to the
previous range). Element starts are located by literal-tag regex — valid
XML cannot contain ``<node``/``<way`` inside attribute values (``<`` must
be escaped as ``&lt;``), so every match is a real element start; mid-file
comments/CDATA containing those literals are not supported (OSM planet
dumps have none).

Hot-path shape: node attributes (the data volume — ~90% of elements) are
pulled with three C-level ``re.findall`` passes per chunk; only ways (one
per ~10 elements, and carrying escaped user strings) go through a real
XML parse (``ElementTree.fromstring`` per element) for correct entity
unescaping. XML is reference-parity input, not the 100 TB path — real
bulk workflows use PBF (sources/osm_pbf.py), which this module mirrors
API-for-API.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from xml.sax.saxutils import quoteattr

import pandas as pd

from ..session import local_frame
from .osm_pbf import NODE_DDL, WAY_DDL

# Attribute sweeps are QUOTE-AWARE (ADVICE r3): a raw '>' or '/>' is legal
# inside an attribute value (only '<' and '&' must be escaped), so the scan
# consumes double-quoted spans atomically instead of stopping at the first
# '>' — a user name like 'a>b' before id/lat/lon parses correctly.
# The SINGLE-CHAR alternation is load-bearing: every position admits
# exactly one alternative (a quote starts a quoted span, anything else is
# one char), so the lazy scan is deterministic — linear time, and it can
# stop at any boundary (a chunked `[^>"]+` alternative either explodes
# exponentially on the failing self-closing _WAY_RE branch (backtracking
# splits of every attribute run) or, made possessive, overshoots past the
# very `id="` / `/>` it must stop at). Measured ~170 MB/s on a pure-node
# sweep — same class as the old single-char `[^>]*?` scan.
# Remaining documented restriction: attributes must use double quotes
# (single-quoted attributes are valid XML but do not occur in OSM dumps).
_ATTRS = rb'(?:[^>"]|"[^"]*")*?'
_NODE_ID_RE = re.compile(rb'<node\b' + _ATTRS + rb'\bid="(-?\d+)"')
_NODE_LAT_RE = re.compile(rb'<node\b' + _ATTRS + rb'\blat="([0-9.eE+-]+)"')
_NODE_LON_RE = re.compile(rb'<node\b' + _ATTRS + rb'\blon="([0-9.eE+-]+)"')
_NODE_START_RE = re.compile(rb"<node\b")
_WAY_RE = re.compile(rb"<way\b" + _ATTRS + rb"/>|<way\b.*?</way>", re.DOTALL)
_ELEM_START_RE = re.compile(rb"<(?:node|way)\b")

DEFAULT_CHUNK = 32 << 20
_OVERRUN = 8 << 20  # must exceed the largest single element (ways ≤ 2k nds)


def _parse_chunk(path: str, start: int, end: int):
    """Parse elements starting in [start, end) → (nodes_df, ways_rows)."""
    with open(path, "rb") as f:
        f.seek(start)
        buf = f.read((end - start) + _OVERRUN)
    limit = end - start  # element starts at offset < limit belong to us

    # ---- nodes: aligned C-level attribute sweeps -------------------------
    node_starts = [m.start() for m in _NODE_START_RE.finditer(buf) if m.start() < limit]
    ids = [m for m in _NODE_ID_RE.finditer(buf) if m.start() < limit]
    lats = [m for m in _NODE_LAT_RE.finditer(buf) if m.start() < limit]
    lons = [m for m in _NODE_LON_RE.finditer(buf) if m.start() < limit]
    if not (len(node_starts) == len(ids) == len(lats) == len(lons)):
        raise ValueError(
            f"OSM XML nodes missing id/lat/lon attributes in {path} "
            f"[{start}, {end}) — visibility-filtered or .osc diffs are not supported"
        )
    nodes = pd.DataFrame(
        {
            "node_id": pd.Series([int(m.group(1)) for m in ids], dtype="int64"),
            "lat": pd.Series([float(m.group(1)) for m in lats], dtype="float64"),
            "lon": pd.Series([float(m.group(1)) for m in lons], dtype="float64"),
        }
    )

    # ---- ways: full XML parse per element (entity unescaping) -----------
    n_way_starts = sum(1 for m in re.finditer(rb"<way\b", buf) if m.start() < limit)
    way_rows = []
    n_parsed = 0
    for m in _WAY_RE.finditer(buf):
        if m.start() >= limit:
            continue
        n_parsed += 1
        el = ET.fromstring(m.group(0))
        a = el.attrib
        ts = a.get("timestamp")
        way_rows.append(
            {
                "way_id": int(a["id"]),
                "version": int(a.get("version", 0)),
                "changeset": int(a.get("changeset", 0)),
                "uid": int(a.get("uid", 0)),
                "user": a.get("user", ""),
                "ts": (
                    pd.Timestamp(ts).tz_convert(None)
                    if ts and pd.Timestamp(ts).tzinfo is not None
                    else (pd.Timestamp(ts) if ts else pd.NaT)
                ),
                "nodes": [int(nd.attrib["ref"]) for nd in el.iter("nd")],
                "tags": {t.attrib["k"]: t.attrib["v"] for t in el.iter("tag")},
            }
        )
    if n_parsed != n_way_starts:
        # a way starting in-range ran past start+range+overrun — silent
        # drop would corrupt the table; fail loudly instead
        raise ValueError(
            f"OSM XML way element exceeds the {_OVERRUN >> 20} MiB overrun in "
            f"{path} [{start}, {end}); raise chunk overrun"
        )
    return nodes, way_rows


def _ranges_df(spark, path: str, chunk_bytes: int = DEFAULT_CHUNK):
    size = os.path.getsize(path)
    ranges = [
        (path, off, min(off + chunk_bytes, size))
        for off in range(0, max(size, 1), chunk_bytes)
    ]
    return local_frame(
        spark, ranges, "path string, start long, end long"
    ).repartition(min(len(ranges), 256))


def xml_ways(spark, path: str, chunk_bytes: int = DEFAULT_CHUNK):
    """Distributed decode → ways DataFrame (pipeline schema)."""
    idx = _ranges_df(spark, path, chunk_bytes)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                _, rows = _parse_chunk(row["path"], row["start"], row["end"])
                if rows:
                    yield pd.DataFrame(rows)

    return idx.mapInPandas(gen, WAY_DDL)


def xml_nodes(spark, path: str, chunk_bytes: int = DEFAULT_CHUNK):
    """Distributed decode → nodes DataFrame (pipeline schema)."""
    idx = _ranges_df(spark, path, chunk_bytes)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                nodes, _ = _parse_chunk(row["path"], row["start"], row["end"])
                if len(nodes):
                    yield nodes

    return idx.mapInPandas(gen, NODE_DDL)


def xml_to_parquet(spark, xml_path: str, out_dir: str,
                   chunk_bytes: int = DEFAULT_CHUNK) -> dict[str, int]:
    """Converter job: .osm.xml → {out_dir}/ways + {out_dir}/nodes parquet
    (the same layout pbf_to_parquet writes)."""
    xml_ways(spark, xml_path, chunk_bytes).write.mode("overwrite").parquet(
        os.path.join(out_dir, "ways")
    )
    xml_nodes(spark, xml_path, chunk_bytes).write.mode("overwrite").parquet(
        os.path.join(out_dir, "nodes")
    )
    return {
        "ways": spark.read.parquet(os.path.join(out_dir, "ways")).count(),
        "nodes": spark.read.parquet(os.path.join(out_dir, "nodes")).count(),
    }


# ---------------------------------------------------------------------------
# minimal writer (tests only): python dicts → valid .osm.xml bytes,
# mirroring osm_pbf.write_pbf's fixture contract
# ---------------------------------------------------------------------------


def write_osm_xml(path: str, nodes, ways) -> None:
    """nodes: [(id, lat, lon)]; ways: [{id, refs, tags, version, changeset,
    uid, user, ts_epoch_s}] — the write_pbf fixture shape."""
    with open(path, "wb") as f:
        f.write(b'<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write(b'<osm version="0.6" generator="wayproblems-spark-test">\n')
        for nid, lat, lon in nodes:
            f.write(
                f'  <node id="{nid}" lat="{lat!r}" lon="{lon!r}" version="1"/>\n'.encode()
            )
        for w in ways:
            ts = pd.Timestamp(w.get("ts_epoch_s", 0), unit="s").strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            f.write(
                (
                    f'  <way id="{w["id"]}" version="{w.get("version", 1)}" '
                    f'timestamp="{ts}" changeset="{w.get("changeset", 0)}" '
                    f'uid="{w.get("uid", 0)}" user={quoteattr(w.get("user", ""))}>\n'
                ).encode()
            )
            for r in w.get("refs", []):
                f.write(f'    <nd ref="{r}"/>\n'.encode())
            for k, v in w.get("tags", {}).items():
                f.write(
                    f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n".encode()
                )
            f.write(b"  </way>\n")
        f.write(b"</osm>\n")
