"""P1 — real OSM PBF ingest (pure-Python wire decode, Spark-distributed).

The reference opens any libosmium-supported format and is driven in
practice against Geofabrik PBF extracts (wayproblems.cpp:21,1573,1597;
README.mdwn:23-28). This module makes the engine runnable from the same
artifact: a converter job reads a ``.osm.pbf`` file and writes the
``ways`` / ``nodes`` parquet tables the pipeline consumes
(ways: way_id, version, changeset, uid, user, ts, nodes, tags;
nodes: node_id, lat, lon).

Format (published, https://wiki.openstreetmap.org/wiki/PBF_Format):
a sequence of [4-byte BE length][BlobHeader proto][Blob proto] framings;
each ``OSMData`` blob holds a zlib-compressed PrimitiveBlock with a string
table, DenseNodes (delta-coded packed sint64 ids/lats/lons + interleaved
keys_vals) and Ways (delta-coded packed sint64 refs). No protobuf library
exists in this environment, so the wire format is decoded directly:
varint/field scanning in small pure-Python helpers, and the packed
delta-coded integer columns — the actual data volume — through a
numpy-vectorized varint decoder (byte continuation-bit scan + per-group
shift/or), so the hot path is array code, not per-int Python.

Spark distribution: blob framing offsets are scanned driver-side (header
reads only — a few KB per blob boundary, no payload decompression), then
``mapInPandas`` over the (offset, size) index decodes blobs in parallel;
blobs are independent by construction, so this partitions perfectly. The
file must be visible to executors (shared FS / object store at cluster
scale; local path here).

A minimal encoder (``write_pbf``) exists for tests: it synthesizes valid
PBF bytes from python dicts so the decoder is exercised against a
round-trip oracle without any external fixture.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# varint + field scanning
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def scan_fields(buf: bytes) -> dict[int, list]:
    """One protobuf message → {field_number: [values]}; wire type 0 stays
    an int, wire type 2 stays bytes, wire 5/1 stay raw ints."""
    out: dict[int, list] = {}
    pos, n = 0, len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            val = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        elif wire == 1:
            val = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        out.setdefault(field, []).append(val)
    return out


def decode_packed_varints(buf: bytes) -> np.ndarray:
    """Vectorized packed-varint decode → uint64 array.

    Continuation bits mark group boundaries; each varint spans the bytes
    from one terminator+1 to the next terminator. Values are assembled
    with per-position shift/or over a ragged-group matrix — no per-int
    Python loop (the inner loop is over the max varint LENGTH, ≤10)."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.zeros(0, dtype=np.uint64)
    term = (a & 0x80) == 0
    if not term[-1]:
        # the final varint's continuation bit is still set — a silently
        # dropped tail would corrupt every downstream delta-decoded id
        raise ValueError("truncated packed varint buffer")
    ends = np.nonzero(term)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    payload = (a & 0x7F).astype(np.uint64)
    maxlen = int(lengths.max())
    for k in range(maxlen):
        m = lengths > k
        vals[m] |= payload[starts[m] + k] << np.uint64(7 * k)
    return vals


def _unzig(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -((u & np.uint64(1)).astype(np.int64))


def _packed(msg: dict[int, list], field: int) -> bytes:
    """Protobuf allows one packed repeated field to be split across several
    length-delimited occurrences; concatenating them is the spec-compliant
    read (taking only [0] silently drops ids/coords/refs)."""
    return b"".join(msg.get(field, []))


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------


def scan_blob_index(path: str) -> list[dict]:
    """Driver-side framing scan: [(type, offset, size)] without touching
    payload bytes (reads only the 4-byte lengths + BlobHeaders)."""
    out = []
    with open(path, "rb") as f:
        while True:
            hdr_len_b = f.read(4)
            if len(hdr_len_b) < 4:
                break
            hdr_len = struct.unpack(">I", hdr_len_b)[0]
            hdr = scan_fields(f.read(hdr_len))
            btype = hdr[1][0].decode()
            datasize = hdr[3][0]
            offset = f.tell()
            out.append({"type": btype, "offset": offset, "size": datasize})
            f.seek(offset + datasize)
    return out


def _blob_payload(raw: bytes) -> bytes:
    blob = scan_fields(raw)
    if 3 in blob:
        return zlib.decompress(blob[3][0])
    if 1 in blob:
        return blob[1][0]
    raise ValueError("unsupported blob compression (only raw/zlib)")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------

_EPOCH = np.datetime64("1970-01-01T00:00:00", "ms")


def decode_primitive_block(payload: bytes) -> dict[str, pd.DataFrame]:
    """One PrimitiveBlock → {"nodes": df, "ways": df} (either may be empty)."""
    blk = scan_fields(payload)
    strings = [s.decode("utf-8", "replace") for s in scan_fields(blk[1][0]).get(1, [])]
    granularity = blk.get(17, [100])[0]
    lat_off = blk.get(19, [0])[0]
    lon_off = blk.get(20, [0])[0]
    date_gran = blk.get(18, [1000])[0]

    node_frames, way_rows = [], []
    for grp_buf in blk.get(2, []):
        grp = scan_fields(grp_buf)
        if 2 in grp:  # DenseNodes
            dense = scan_fields(grp[2][0])
            ids = np.cumsum(_unzig(decode_packed_varints(_packed(dense, 1))))
            lats = np.cumsum(_unzig(decode_packed_varints(_packed(dense, 8))))
            lons = np.cumsum(_unzig(decode_packed_varints(_packed(dense, 9))))
            node_frames.append(
                pd.DataFrame(
                    {
                        "node_id": ids,
                        "lat": 1e-9 * (lat_off + granularity * lats),
                        "lon": 1e-9 * (lon_off + granularity * lons),
                    }
                )
            )
        for way_buf in grp.get(3, []):  # Ways
            way = scan_fields(way_buf)
            wid = way[1][0]
            keys = decode_packed_varints(_packed(way, 2))
            vals = decode_packed_varints(_packed(way, 3))
            refs = np.cumsum(_unzig(decode_packed_varints(_packed(way, 8))))
            version, ts, changeset, uid, user = 0, None, 0, 0, ""
            if 4 in way:
                info = scan_fields(way[4][0])
                version = info.get(1, [0])[0]
                if 2 in info:
                    ts = _EPOCH + np.timedelta64(int(info[2][0] * date_gran), "ms")
                changeset = info.get(3, [0])[0]
                uid = info.get(4, [0])[0]
                if 5 in info:
                    user = strings[info[5][0]]
            way_rows.append(
                {
                    "way_id": wid,
                    "version": version,
                    "changeset": changeset,
                    "uid": uid,
                    "user": user,
                    "ts": pd.Timestamp(ts) if ts is not None else pd.NaT,
                    "nodes": refs.astype(np.int64).tolist(),
                    "tags": {
                        strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys.tolist(), vals.tolist())
                    },
                }
            )
    nodes = (
        pd.concat(node_frames, ignore_index=True)
        if node_frames
        else pd.DataFrame({"node_id": [], "lat": [], "lon": []})
    )
    return {"nodes": nodes, "ways": pd.DataFrame(way_rows)}


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

WAY_DDL = (
    "way_id long, version int, changeset long, uid long, user string, "
    "ts timestamp, nodes array<long>, tags map<string,string>"
)
NODE_DDL = "node_id long, lat double, lon double"


def _read_frames(spark, path: str):
    index = [b for b in scan_blob_index(path) if b["type"] == "OSMData"]
    if not index:
        raise ValueError(f"no OSMData blobs in {path}")
    idx_df = spark.createDataFrame(
        [(path, b["offset"], b["size"]) for b in index],
        "path string, offset long, size long",
    ).repartition(min(len(index), 256))
    return idx_df


def pbf_ways(spark, path: str):
    """Distributed decode → ways DataFrame (pipeline schema)."""
    idx_df = _read_frames(spark, path)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                with open(row["path"], "rb") as f:
                    f.seek(row["offset"])
                    raw = f.read(row["size"])
                ways = decode_primitive_block(_blob_payload(raw))["ways"]
                if len(ways):
                    yield ways

    return idx_df.mapInPandas(gen, WAY_DDL)


def pbf_nodes(spark, path: str):
    """Distributed decode → nodes DataFrame (pipeline schema)."""
    idx_df = _read_frames(spark, path)

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                with open(row["path"], "rb") as f:
                    f.seek(row["offset"])
                    raw = f.read(row["size"])
                nodes = decode_primitive_block(_blob_payload(raw))["nodes"]
                if len(nodes):
                    yield nodes

    return idx_df.mapInPandas(gen, NODE_DDL)


def pbf_to_parquet(spark, pbf_path: str, out_dir: str) -> dict[str, int]:
    """Converter job: .osm.pbf → {out_dir}/ways + {out_dir}/nodes parquet.
    One decode pass per table; blobs decode in parallel across executors."""
    import os

    ways = pbf_ways(spark, pbf_path)
    nodes = pbf_nodes(spark, pbf_path)
    ways.write.mode("overwrite").parquet(os.path.join(out_dir, "ways"))
    nodes.write.mode("overwrite").parquet(os.path.join(out_dir, "nodes"))
    return {
        "ways": spark.read.parquet(os.path.join(out_dir, "ways")).count(),
        "nodes": spark.read.parquet(os.path.join(out_dir, "nodes")).count(),
    }


# ---------------------------------------------------------------------------
# minimal encoder (tests only): python dicts → valid PBF bytes
# ---------------------------------------------------------------------------


def _enc_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zig(v: int) -> bytes:
    return _enc_varint((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _field(num: int, wire: int) -> bytes:
    return _enc_varint((num << 3) | wire)


def _len_field(num: int, payload: bytes) -> bytes:
    return _field(num, 2) + _enc_varint(len(payload)) + payload


def _packed_zig(num: int, vals) -> bytes:
    body = b"".join(_enc_zig(v) for v in vals)
    return _len_field(num, body)


def _packed_varint(num: int, vals) -> bytes:
    body = b"".join(_enc_varint(v) for v in vals)
    return _len_field(num, body)


def write_pbf(path: str, nodes, ways, granularity: int = 100) -> None:
    """nodes: [(id, lat, lon)]; ways: [{id, refs, tags, version, changeset,
    uid, user, ts_epoch_s}] → a valid 2-blob PBF (OSMHeader + OSMData)."""
    strings = [b""]
    s_index: dict[str, int] = {}

    def sid(s: str) -> int:
        if s not in s_index:
            s_index[s] = len(strings)
            strings.append(s.encode())
        return s_index[s]

    # dense nodes (delta/zigzag coded)
    ids = [n[0] for n in nodes]
    lats = [int(round(n[1] * 1e9 / granularity)) for n in nodes]
    lons = [int(round(n[2] * 1e9 / granularity)) for n in nodes]
    deltas = lambda xs: [xs[0]] + [b - a for a, b in zip(xs, xs[1:])] if xs else []
    dense = (
        _packed_zig(1, deltas(ids))
        + _packed_zig(8, deltas(lats))
        + _packed_zig(9, deltas(lons))
    )
    groups = [_len_field(2, dense)] if nodes else []

    way_bufs = []
    for w in ways:
        keys = [sid(k) for k in w.get("tags", {})]
        vals = [sid(v) for v in w.get("tags", {}).values()]
        info = (
            _field(1, 0) + _enc_varint(w.get("version", 1))
            + _field(2, 0) + _enc_varint(w.get("ts_epoch_s", 0) * 1000 // 1000)
            + _field(3, 0) + _enc_varint(w.get("changeset", 0))
            + _field(4, 0) + _enc_varint(w.get("uid", 0))
            + _field(5, 0) + _enc_varint(sid(w.get("user", "")))
        )
        buf = (
            _field(1, 0) + _enc_varint(w["id"])
            + _packed_varint(2, keys)
            + _packed_varint(3, vals)
            + _len_field(4, info)
            + _packed_zig(8, deltas(list(w["refs"])))
        )
        way_bufs.append(_len_field(3, buf))
    if way_bufs:
        groups.append(b"".join(way_bufs))

    st = _len_field(1, b"".join(_len_field(1, s) for s in strings))
    block = (
        st
        + b"".join(_len_field(2, g) for g in groups)
        + _field(17, 0) + _enc_varint(granularity)
        + _field(18, 0) + _enc_varint(1000)
    )

    def frame(btype: str, payload: bytes) -> bytes:
        z = zlib.compress(payload)
        blob = _field(2, 0) + _enc_varint(len(payload)) + _len_field(3, z)
        hdr = _len_field(1, btype.encode()) + _field(3, 0) + _enc_varint(len(blob))
        return struct.pack(">I", len(hdr)) + hdr + blob

    header_block = _len_field(4, b"OsmSchema-V0.6") + _len_field(4, b"DenseNodes")
    with open(path, "wb") as f:
        f.write(frame("OSMHeader", header_block))
        f.write(frame("OSMData", block))
