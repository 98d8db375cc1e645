"""Iceberg-style snapshot table format over parquet — self-contained.

The brief's input is "a 10^12-row Common-Crawl-style **Iceberg** table";
this sandbox has no Iceberg jars (env-gap carried since round 2), so this
module implements the table-format SEMANTICS the engine needs from one,
with nothing but parquet + JSON + atomic renames:

* **Snapshots & time travel** — every commit writes an immutable manifest
  ``metadata/v<N>.json`` and flips the ``metadata/VERSION`` pointer by
  atomic rename; ``read_snapshot(version=K)`` reads any retained version.
* **Append without rewrite** — each commit's data files land in their own
  immutable ``data/s<N>/`` directory; an append manifest references the
  parent's files plus its own.
* **Manifest-level file pruning** — per-file min/max column stats are
  computed DISTRIBUTED at commit time (one pass grouped by
  ``input_file_name()``, not a driver footer loop) and recorded in the
  manifest; ``read_snapshot(prune={col: (lo, hi)})`` plans the scan from
  the manifest and hands Spark only the files whose ranges overlap — the
  driver never lists the data directory, so planning cost is O(manifest),
  not O(objects), at any table size.
* **Optimistic concurrency** — a commit records the version it read; if
  the pointer moved meanwhile, the commit raises instead of clobbering
  (retry-by-reread, the Iceberg model).
* **Compaction & snapshot expiry** — ``compact_snapshot`` rewrites the
  current file set into ``target_files`` and commits a new snapshot (old
  versions still readable); ``expire_snapshots`` drops manifests older
  than the retained window and deletes data files no retained snapshot
  references.

Swap-in contract: if real Iceberg jars appear, ``write_pages_table`` /
``read_pages_table`` (pages_source.py) move to the catalog API behind the
same signatures; this module keeps the engine's snapshot/pruning
semantics testable until then.

PATH CONTRACT: ``table_dir`` must be a POSIX path (local/NFS/fuse) — the
pointer flip uses os.rename, like the streaming state tables.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame


class CommitConflict(RuntimeError):
    """The VERSION pointer moved between read and commit (lost race)."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _version_file(path: str) -> str:
    return os.path.join(_meta_dir(path), "VERSION")


def current_version(path: str) -> int:
    """0 when the table does not exist yet."""
    try:
        with open(_version_file(path)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_meta_dir(path), f"v{version}.json")


def read_manifest(path: str, version: int | None = None) -> dict:
    v = current_version(path) if version is None else version
    if v <= 0:
        raise FileNotFoundError(f"no snapshot at {path}")
    with open(_manifest_path(path, v)) as f:
        return json.load(f)


def snapshot_history(path: str) -> list[dict]:
    """[{version, parent, timestamp, n_files, n_rows}] for retained
    manifests, oldest first."""
    out = []
    md = _meta_dir(path)
    if not os.path.isdir(md):
        return out
    for name in sorted(os.listdir(md)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(md, name)) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "timestamp": m["timestamp"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(f["rows"] for f in m["files"]),
                }
            )
    return sorted(out, key=lambda m: m["version"])


def _file_stats(spark: SparkSession, files: list[str], stats_cols: tuple) -> list[dict]:
    """Per-file row counts + min/max stats in ONE distributed pass grouped
    by input_file_name() — no driver-side footer loop (at 10^12 rows the
    commit's stats pass is a normal Spark job, not an O(files) driver
    stall)."""
    df = spark.read.parquet(*files)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    rows = (
        df.withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(*aggs)
        .collect()
    )
    by_uri = {}
    for r in rows:
        stats = {}
        for c in stats_cols:
            mn, mx = r[f"_min_{c}"], r[f"_max_{c}"]
            if mn is not None:
                stats[c] = [mn, mx]
        by_uri[r["_f"]] = {"rows": r["_rows"], "stats": stats}
    out = []
    for f in files:
        base = os.path.basename(f)
        hit = next((v for k, v in by_uri.items() if os.path.basename(k) == base), None)
        out.append(
            {
                "path": f,
                "rows": 0 if hit is None else hit["rows"],
                "stats": {} if hit is None else hit["stats"],
            }
        )
    return out


def _list_part_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )


def _write_data_files(
    df: DataFrame, path: str, version: int, n_files: int | None
) -> list[str]:
    stage = os.path.join(path, "data", f"s{version}")
    w = df if n_files is None else df.repartition(n_files)
    w.write.mode("overwrite").parquet(stage)
    return _list_part_files(stage)


def _commit(path: str, manifest: dict, expected_parent: int) -> int:
    """Write the manifest, then flip VERSION by atomic rename. Raises
    CommitConflict if another writer advanced the pointer since
    ``expected_parent`` was read."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    if current_version(path) != expected_parent:
        raise CommitConflict(
            f"table {path} moved past v{expected_parent}; re-read and retry"
        )
    v = expected_parent + 1
    mp = _manifest_path(path, v)
    with open(mp + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(mp + ".tmp", mp)
    vf = _version_file(path)
    with open(vf + ".tmp", "w") as f:
        f.write(str(v))
    # one more conflict check right before the flip narrows (but cannot
    # fully close — single-writer-per-table is the deployment contract,
    # as with Iceberg's catalog-side lock) the race window
    if current_version(path) != expected_parent:
        os.remove(vf + ".tmp")
        raise CommitConflict(f"table {path} moved during commit")
    os.rename(vf + ".tmp", vf)
    return v


def _snapshot(
    spark, path, files, stats_cols, parent, schema_json, operation,
    properties: dict | None = None,
) -> dict:
    return {
        "version": parent + 1,
        "parent": parent,
        "operation": operation,
        "timestamp": time.time(),
        "schema": schema_json,
        "stats_cols": list(stats_cols),
        # caller-attached commit metadata (e.g. a streaming batch_id for
        # replay idempotence — the Iceberg snapshot-summary pattern)
        "properties": dict(properties or {}),
        "files": _file_stats(spark, files, tuple(stats_cols)) if files else [],
    }


def create_snapshot_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    stats_cols: tuple = (),
    n_files: int | None = None,
    properties: dict | None = None,
) -> int:
    """Create v1. ``stats_cols`` are recorded per-file for manifest
    pruning on every subsequent read."""
    if current_version(path) > 0:
        raise FileExistsError(f"snapshot table already exists at {path}")
    files = _write_data_files(df, path, 1, n_files)
    m = _snapshot(
        spark, path, files, stats_cols, 0, df.schema.json(), "create", properties
    )
    return _commit(path, m, 0)


def append_snapshot(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    n_files: int | None = None,
    properties: dict | None = None,
) -> int:
    """New snapshot = parent's files + this commit's files (no rewrite)."""
    parent = read_manifest(path)
    v = parent["version"]
    files = _write_data_files(df, path, v + 1, n_files)
    m = _snapshot(
        spark, path, files, tuple(parent["stats_cols"]), v,
        parent["schema"], "append", properties,
    )
    m["files"] = parent["files"] + m["files"]
    return _commit(path, m, v)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Scan a snapshot. ``prune={col: (lo, hi)}`` drops every data file
    whose recorded [min, max] cannot intersect [lo, hi] BEFORE Spark sees
    it — manifest-level planning, the same file-skipping an Iceberg scan
    does (row-level filtering still belongs to the caller; pruning alone
    never changes which ROWS match, only which files are opened)."""
    m = read_manifest(path, version)
    files = m["files"]
    if prune:
        missing = [c for c in prune if c not in m["stats_cols"]]
        if missing:
            raise ValueError(f"no recorded stats for {missing} (have {m['stats_cols']})")

        def keep(entry: dict) -> bool:
            for c, (lo, hi) in prune.items():
                s = entry["stats"].get(c)
                if s is None:
                    continue  # all-null file for c: cannot be excluded
                if (hi is not None and s[0] > hi) or (lo is not None and s[1] < lo):
                    return False
            return True

        files = [f for f in files if keep(f)]
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not files:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*[f["path"] for f in files])


def compact_snapshot(
    spark: SparkSession, path: str, target_files: int = 8
) -> int:
    """Rewrite the CURRENT file set into ``target_files`` and commit a new
    snapshot referencing only the rewritten files. Old snapshots keep
    reading the old files until expire_snapshots drops them."""
    parent = read_manifest(path)
    v = parent["version"]
    df = read_snapshot(spark, path)
    files = _write_data_files(df, path, v + 1, target_files)
    m = _snapshot(
        spark, path, files, tuple(parent["stats_cols"]), v,
        parent["schema"], "compact",
    )
    return _commit(path, m, v)


def expire_snapshots(path: str, keep_last: int = 2) -> dict:
    """Drop manifests older than the last ``keep_last`` versions and
    delete data files no retained snapshot references. Returns
    {"manifests_removed": n, "files_removed": n}."""
    hist = snapshot_history(path)
    if len(hist) <= keep_last:
        return {"manifests_removed": 0, "files_removed": 0}
    keep = {h["version"] for h in hist[-keep_last:]}
    live: set[str] = set()
    for v in keep:
        live.update(f["path"] for f in read_manifest(path, v)["files"])
    removed_m = removed_f = 0
    for h in hist:
        if h["version"] in keep:
            continue
        for f in read_manifest(path, h["version"])["files"]:
            if f["path"] not in live and os.path.exists(f["path"]):
                os.remove(f["path"])
                removed_f += 1
        os.remove(_manifest_path(path, h["version"]))
        removed_m += 1
    # drop now-empty stage dirs so the data dir stays listable-at-a-glance
    data_dir = os.path.join(path, "data")
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            full = os.path.join(data_dir, d)
            if os.path.isdir(full) and not _list_part_files(full):
                shutil.rmtree(full)
    return {"manifests_removed": removed_m, "files_removed": removed_f}
