"""Streaming kNN (foreachBatch over a static index) must equal the batch
operator over the union of all micro-batches."""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from wayproblems_spark.fixtures.pages import generate_corpus, pages_df
from wayproblems_spark.operators.knn import knn_nearest_way
from wayproblems_spark.operators.resolve import (
    drop_invalid_geometry,
    resolve_locations,
)
from wayproblems_spark.sources.pages_source import nodes_from_pages, ways_from_pages
from wayproblems_spark.streaming.knn_stream import knn_foreach_batch


def test_knn_stream_matches_batch(spark, tmp_path):
    corpus = generate_corpus(n_pages=250, seed=21, split="unit")
    pdf = pages_df(spark, corpus)
    ways = ways_from_pages(pdf).drop("src_url")
    nodes = nodes_from_pages(pdf)
    resolved = drop_invalid_geometry(resolve_locations(ways, nodes, broadcast_nodes=True))
    pts = nodes.select(F.col("node_id").alias("point_id"), "lat", "lon")

    expected = {
        r["point_id"]: (r["way_id"], round(r["dist_m"], 6))
        for r in knn_nearest_way(pts, resolved, level=12).collect()
    }

    # three time-ordered micro-batch files
    pdf_pts = pts.toPandas().sort_values("point_id").reset_index(drop=True)
    src = tmp_path / "pts_stream"
    os.makedirs(src)
    k = len(pdf_pts) // 3
    chunks = [pdf_pts.iloc[:k], pdf_pts.iloc[k : 2 * k], pdf_pts.iloc[2 * k :]]
    for i, chunk in enumerate(chunks):
        p = str(src / f"part{i}.parquet")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(p)
        t = time.time() + i
        for root, _, files in os.walk(p):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    got = {}
    fb = knn_foreach_batch(resolved, level=12)
    fb.sink = lambda df, bid: got.update(
        {r["point_id"]: (r["way_id"], round(r["dist_m"], 6)) for r in df.collect()}
    )
    stream = (
        spark.readStream.schema("point_id long, lat double, lon double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert got == expected and len(got) > 100


def test_knn_stream_replay_idempotent_and_cache_bounded(spark, tmp_path):
    """(a) Replaying a micro-batch with the same batch_id through
    exactly_once_parquet_sink must not duplicate rows (at-least-once →
    exactly-once in the written table); (b) per-batch internal persists
    must be freed after the sink runs — only the shared prebuilt index
    may stay cached across batches (ADVICE r3 leak)."""
    from wayproblems_spark.streaming.knn_stream import (
        exactly_once_parquet_sink,
        knn_foreach_batch,
    )

    corpus = generate_corpus(n_pages=120, seed=22, split="unit")
    pdf = pages_df(spark, corpus)
    ways = ways_from_pages(pdf).drop("src_url")
    nodes = nodes_from_pages(pdf)
    resolved = drop_invalid_geometry(resolve_locations(ways, nodes, broadcast_nodes=True))
    pts = nodes.select(F.col("node_id").alias("point_id"), "lat", "lon")

    out = str(tmp_path / "knn_out")
    fb = knn_foreach_batch(resolved, level=12)
    fb.sink = exactly_once_parquet_sink(out)

    batch = pts.limit(200)
    fb(batch, 7)
    jsc = spark.sparkContext._jsc.sc()
    cached_after_first = jsc.getPersistentRDDs().size()
    once = spark.read.parquet(out).drop("batch_id").collect()

    # replay the SAME batch id (simulates post-failure redelivery)
    fb(batch, 7)
    assert jsc.getPersistentRDDs().size() == cached_after_first  # no growth
    again = spark.read.parquet(out).drop("batch_id").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, once))
    assert len(once) == 200

    # a different batch appends its own partition
    fb(pts.limit(250), 8)
    assert spark.read.parquet(out).count() == 450


def test_knn_stream_batch_with_new_escapees_compiles_nothing(spark, tmp_path):
    """A warm micro-batch whose tier-1 escapees are other points than the
    previous batch's must reuse every generated class: the escapee ids
    reach the brute tail as data, not as code."""
    from tests.test_knn_faces import cutover_fixture

    ways, pts = cutover_fixture(np.random.default_rng(9), 4)
    near, far = pts[:50], pts[50:]
    resolved = spark.createDataFrame(
        ways, "way_id long, geom array<struct<lon:double,lat:double>>"
    )
    # same-sized batches with 1, 2 and 1 escapees, no point in two batches
    batches = [
        near + far[:1],
        [(pid + 100, la, lo) for pid, la, lo in near[1:]] + far[1:3],
        [(pid + 200, la, lo) for pid, la, lo in near] + far[3:],
    ]
    got = {}
    fb = knn_foreach_batch(resolved, level=12)
    fb.sink = lambda df, bid: got.setdefault(bid, df.collect())
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for bid, rows in enumerate(batches):
        path = str(tmp_path / f"batch{bid}")
        spark.createDataFrame(rows, "point_id long, lat double, lon double").coalesce(
            1
        ).write.parquet(path)
        # the first batch also materializes the index, and its measured
        # size can re-plan the next batch's tier-1 join: measure the third
        compiled = metric.getCount()
        fb(spark.read.parquet(path), bid)
    assert metric.getCount() == compiled
    assert [len(got[b]) for b in range(3)] == [51, 51, 51]
