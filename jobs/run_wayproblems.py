#!/usr/bin/env python
"""spark-submit entry point (north_rule: `spark-submit --py-files`).

    spark-submit --py-files wayproblems_spark.zip jobs/run_wayproblems.py \
        --pages /data/pages_parquet --out /data/wayproblems_out \
        [--buckets 64] [--resume] [--tile-z 12] [--sqlite]

    # or straight from a real OSM extract (the reference's workflow):
    spark-submit ... jobs/run_wayproblems.py \
        --pbf germany-latest.osm.pbf --out /data/out

Reads a pages table (url, warc_ts, html, text, lang), runs extraction →
geoparse → node resolution → the full rule catalogue, writes:
  out/problems/    layer-partitioned parquet (9-field reference schema)
  out/tiles/       per-tile problem counts
  out/meta.json    style/layer presentation metadata
  out/checkpoints/ per-bucket lineage log (resume with --resume)
  stdout           one reference-format log line per problem (optional)

Packaging helper: `python jobs/run_wayproblems.py --make-zip` writes
wayproblems_spark.zip next to the repo for --py-files.
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_zip(repo_root: str) -> str:
    zpath = os.path.join(repo_root, "wayproblems_spark.zip")
    pkg = os.path.join(repo_root, "wayproblems_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo_root))
    return zpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet path")
    ap.add_argument("--pbf", help="OSM .pbf input (alternative to --pages)")
    ap.add_argument("--xml", help="OSM .osm.xml input (alternative to --pages)")
    ap.add_argument("--out", help="output directory")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--tile-z", type=int, default=12)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--log-stdout", action="store_true")
    ap.add_argument(
        "--sqlite", action="store_true",
        help="also export the reference-shaped 6-layer SQLite deliverable",
    )
    ap.add_argument("--make-zip", action="store_true")
    args = ap.parse_args()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if args.make_zip:
        print(make_zip(repo_root))
        return
    if not (args.pages or args.pbf or args.xml) or not args.out:
        ap.error("--pages (or --pbf / --xml) and --out are required")

    from pyspark.sql import SparkSession

    from wayproblems_spark.operators.resolve import (
        drop_invalid_geometry,
        resolve_locations,
    )
    from wayproblems_spark.operators.tiles import tile_counts_anchored
    from wayproblems_spark.plans.checkpoint import CheckpointLog, run_bucketed
    from wayproblems_spark.rules import problems
    from wayproblems_spark.sinks.meta import write_meta
    from wayproblems_spark.sinks.writer import layer_features, stdout_from_features
    from wayproblems_spark.sources.pages_source import (
        nodes_from_pages,
        ways_from_pages,
    )

    spark = SparkSession.builder.appName("wayproblems").getOrCreate()

    log = CheckpointLog(os.path.join(args.out, "checkpoints"))
    if not args.resume and log.completed():
        raise SystemExit(
            "checkpoint log not empty; pass --resume to continue or clear it"
        )

    # Node resolution is GLOBAL — a way's node refs live on arbitrary pages,
    # so the resolve join must see the whole node table. Only after the
    # geometry is attached do we bucket (by way_id: rule projection is
    # per-way, so buckets are then fully independent). run_bucketed stages
    # the resolved ways once partitioned by bucket, so the expensive
    # extract+resolve happens exactly ONE time regardless of bucket count.
    if args.pbf or args.xml:
        # real OSM input (the reference's Geofabrik workflow, any
        # libosmium-format parity): convert once, then the identical
        # resolve → rules → sinks path
        if args.pbf:
            from wayproblems_spark.sources.osm_pbf import pbf_to_parquet as _conv

            src, conv = args.pbf, os.path.join(args.out, "pbf_tables")
        else:
            from wayproblems_spark.sources.osm_xml import xml_to_parquet as _conv

            src, conv = args.xml, os.path.join(args.out, "xml_tables")
        if not os.path.exists(os.path.join(conv, "ways", "_SUCCESS")):
            _conv(spark, src, conv)
        ways = spark.read.parquet(os.path.join(conv, "ways"))
        nodes = spark.read.parquet(os.path.join(conv, "nodes"))
    else:
        pages = spark.read.parquet(args.pages)
        ways = ways_from_pages(pages).drop("src_url")
        nodes = nodes_from_pages(pages)
    resolved = drop_invalid_geometry(
        resolve_locations(ways, nodes, broadcast_nodes=False)
    )

    def transform(resolved_bucket):
        return layer_features(problems(resolved_bucket), with_anchor=True)

    run_bucketed(
        resolved, "way_id", args.buckets, transform, log,
        os.path.join(args.out, "problems"),
    )

    # tiles + stdout replay come from what was just WRITTEN — zero recompute.
    # Partition discovery over the bucket directories (a `bucket=*` glob
    # logs a FileNotFoundException trace); the discovered `bucket` column
    # is dropped so every sink sees the written schema.
    feats = spark.read.parquet(os.path.join(args.out, "problems")).drop("bucket")
    tile_counts_anchored(
        feats, args.tile_z, "anchor_lon", "anchor_lat"
    ).write.mode("overwrite").parquet(os.path.join(args.out, "tiles"))
    write_meta(os.path.join(args.out, "meta.json"))

    if args.sqlite:
        from wayproblems_spark.sinks.sqlite_export import export_sqlite

        export_sqlite(feats, os.path.join(args.out, "wayproblems.sqlite"))

    if args.log_stdout:
        it = (
            stdout_from_features(feats)
            .orderBy("way_id", "site", "sub")
            .toLocalIterator()
        )
        for row in it:
            print(row["line"])

    print(f"problems rows: {feats.count()}")


if __name__ == "__main__":
    main()
