"""Streaming PIP (foreachBatch over a prebuilt index) must equal the
batch operator over the union of all micro-batches, be replay-idempotent
through the exactly-once sink, and keep the cache flat across batches
(only the shared prebuilt index stays persisted)."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from wayproblems_spark.fixtures.pages import generate_corpus, pages_df
from wayproblems_spark.operators.pip import point_in_polygon, unpersist_pip_index
from wayproblems_spark.sources.pages_source import nodes_from_pages, polys_from_pages
from wayproblems_spark.streaming.knn_stream import exactly_once_parquet_sink
from wayproblems_spark.streaming.pip_stream import pip_foreach_batch


def _frames(spark, seed=21, n_pages=250):
    corpus = generate_corpus(n_pages=n_pages, seed=seed, split="unit")
    pdf = pages_df(spark, corpus)
    nodes = nodes_from_pages(pdf)
    polys = polys_from_pages(pdf)
    pts = nodes.select(F.col("node_id").alias("point_id"), "lat", "lon")
    return pts, polys


def test_pip_stream_matches_batch(spark, tmp_path):
    pts, polys = _frames(spark)
    expected = sorted(
        map(tuple, point_in_polygon(spark, pts, polys, level=10).collect())
    )
    assert len(expected) > 50

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

    got = []
    n_batches = []
    fb = pip_foreach_batch(spark, polys, level=10)
    fb.sink = lambda df, bid: (got.extend(map(tuple, df.collect())), n_batches.append(bid))
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
        unpersist_pip_index(fb.prebuilt)

    assert len(n_batches) >= 3  # really ran as micro-batches
    assert sorted(got) == expected


def test_pip_stream_replay_idempotent_and_cache_flat(spark, tmp_path, persisted_ids):
    pts, polys = _frames(spark, seed=22, n_pages=120)
    out = str(tmp_path / "pip_out")
    fb = pip_foreach_batch(spark, polys, level=10)
    fb.sink = exactly_once_parquet_sink(out)
    try:
        batch = pts.limit(300)
        fb(batch, 3)
        cached_after_first = persisted_ids()
        once = spark.read.parquet(out).drop("batch_id").collect()
        assert len(once) > 10

        # replay the SAME batch id (post-failure redelivery): written table
        # unchanged, cache flat (only the prebuilt index frames persist)
        fb(batch, 3)
        assert persisted_ids() <= cached_after_first
        again = spark.read.parquet(out).drop("batch_id").collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, once))

        # a different batch appends its own partition; cache still flat
        fb(pts.limit(400), 4)
        assert persisted_ids() <= cached_after_first
        assert spark.read.parquet(out).count() > len(once)
    finally:
        unpersist_pip_index(fb.prebuilt)


def test_pip_stream_warm_batch_compiles_nothing(spark, tmp_path):
    """A warm 2,000-point micro-batch read from parquet, through the
    exactly-once sink, must reuse every generated class: neither the
    batch's points nor its batch id may reach the generated code."""
    pts, polys = _frames(spark, seed=21, n_pages=250)
    bounds = pts.agg(*(f(c) for c in ("lat", "lon") for f in (F.min, F.max))).first()
    rng = np.random.default_rng(5)
    out = str(tmp_path / "pip_out")
    fb = pip_foreach_batch(spark, polys, level=10)
    fb.sink = exactly_once_parquet_sink(out)
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = 2000
    try:
        for bid in range(3):
            path = str(tmp_path / f"batch{bid}")
            spark.createDataFrame(pd.DataFrame({
                "point_id": np.arange(n, dtype=np.int64) + bid * n,
                "lat": rng.uniform(bounds[0], bounds[1], n),
                "lon": rng.uniform(bounds[2], bounds[3], n),
            })).coalesce(1).write.parquet(path)
            # the first batches also warm the index's broadcasts: measure
            # the third
            compiled = metric.getCount()
            fb(spark.read.parquet(path), bid)
        assert metric.getCount() == compiled
    finally:
        unpersist_pip_index(fb.prebuilt)
    written = spark.read.parquet(out)
    assert written.select("batch_id").distinct().count() == 3
    assert written.count() > 100
