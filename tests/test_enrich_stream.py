"""Streaming as-of enrichment must equal the batch asof_join over the
union of all micro-batches (per-row independence makes this exact, not
approximate), be replay-idempotent through the exactly-once sink, and
keep the cache flat (only the persisted dimension frame)."""

from __future__ import annotations

import datetime as dt
import os
import time

from wayproblems_spark.operators.temporal import asof_join
from wayproblems_spark.streaming.enrich_stream import asof_foreach_batch
from wayproblems_spark.streaming.knn_stream import exactly_once_parquet_sink

T0 = dt.datetime(2024, 1, 1)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


def _frames(spark):
    left = spark.createDataFrame(
        [(i, i % 4, _ts(i * 13 + (i * 3) % 7)) for i in range(240)],
        "l_id long, k long, ts timestamp",
    )
    dim = spark.createDataFrame(
        [(j, j % 4, _ts(j * 41 + (j * 5) % 7), float(j % 9)) for j in range(90)],
        "r_id long, k long, ts timestamp, rv double",
    )
    return left, dim


def test_enrich_stream_matches_batch(spark, tmp_path):
    left, dim = _frames(spark)
    expected = sorted(
        map(
            tuple,
            asof_join(left, dim, on="k", right_cols=["r_id", "rv"]).collect(),
        )
    )

    pdf = left.toPandas().sort_values("l_id").reset_index(drop=True)
    src = tmp_path / "events_stream"
    os.makedirs(src)
    k = len(pdf) // 3
    for i, chunk in enumerate((pdf.iloc[:k], pdf.iloc[k : 2 * k], pdf.iloc[2 * k :])):
        p = str(src / f"part{i}.parquet")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(p)
        t = time.time() + i
        for root, _, files in os.walk(p):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    got, batches = [], []
    fb = asof_foreach_batch(dim, on="k", right_cols=["r_id", "rv"])
    fb.sink = lambda df, bid: (got.extend(map(tuple, df.collect())), batches.append(bid))
    stream = (
        spark.readStream.schema("l_id long, k long, ts timestamp")
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
        fb.dim.unpersist()

    assert len(batches) >= 3
    assert sorted(got) == expected


def test_enrich_stream_replay_idempotent_and_cache_flat(spark, tmp_path, persisted_ids):
    left, dim = _frames(spark)
    out = str(tmp_path / "enriched")
    fb = asof_foreach_batch(dim, on="k", right_cols=["r_id"])
    fb.sink = exactly_once_parquet_sink(out)
    try:
        batch = left.limit(80)
        fb(batch, 7)
        cached = persisted_ids()
        once = spark.read.parquet(out).drop("batch_id").collect()
        assert len(once) == 80

        fb(batch, 7)  # redelivery of the same batch id
        assert persisted_ids() <= cached
        again = spark.read.parquet(out).drop("batch_id").collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, once))

        fb(left.limit(120), 8)  # new batch appends; cache still flat
        assert persisted_ids() <= cached
        assert spark.read.parquet(out).count() == 80 + 120
    finally:
        fb.dim.unpersist()
