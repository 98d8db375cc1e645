"""Streaming kNN: assign each incoming point (a Structured-Streaming
source) to its nearest way, against a STATIC way corpus.

Shape: the tiered kNN operator needs driver actions per batch (the
escapee step's bounded id fetch after tier 1, and a count per ladder
rung when more than ``_BRUTE_CUTOVER`` points escape), so it cannot run
as a single continuous streaming transformation — the standard Spark
pattern for that is ``foreachBatch``: the static side (grid-keyed vertex
frame + per-cell index, cached sorted by cell) is built ONCE with
``build_knn_index`` and captured by the batch closure; every micro-batch
then pays only for its own points (tier-1 sort-merge join that sorts only
the batch's side, escalation only for its own escapees). A typical batch
has a handful of escapees: their ids reach the brute tail as data, so a
warm batch compiles no new generated class.

Delivery semantics are foreachBatch's usual at-least-once at the
boundary; :func:`exactly_once_parquet_sink` ships the idempotent
per-batch-id dynamic-partition-overwrite pattern that upgrades a
replayed batch to exactly-once in the written table.

Scale: identical to the batch operator per micro-batch; the index is
shared across all batches (persist single-node, ``materialize_dir=`` for
the cluster-scale bucketed-parquet form).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.knn import build_knn_index, knn_nearest_way


def knn_foreach_batch(
    resolved_ways: DataFrame,
    level: int | None = 12,
    materialize_dir: str | None = None,
    coarse_level: int | None = None,
) -> Callable:
    """Returns an on-batch callable for ``writeStream.foreachBatch`` that
    maps a micro-batch of points(point_id, lat, lon) to assignment rows
    and returns them to the wrapped sink function set via ``.sink``.

    Usage::

        fb = knn_foreach_batch(ways, level=12)
        fb.sink = lambda df, bid: df.write.mode("append").parquet(out)
        stream.writeStream.foreachBatch(fb).start()
    """
    prebuilt = build_knn_index(resolved_ways, level, materialize_dir)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        # track + free the operator's per-batch internal persists once the
        # sink has consumed the result: Spark's CacheManager holds strong
        # references to cached plans, so in a long-running stream the
        # entries would otherwise grow without bound, and clearCache()
        # is not usable here — it would also drop the shared prebuilt
        # index (ADVICE r3).
        batch_persists: list = []
        # the operator call itself sits INSIDE the try: it persists
        # internal frames as it goes, so a mid-operator failure must
        # still unpersist whatever was tracked before the raise —
        # otherwise a long-running stream leaks exactly the cache
        # entries this tracking exists to free (ADVICE r4)
        try:
            res = knn_nearest_way(
                batch_df, None, coarse_level=coarse_level, prebuilt=prebuilt,
                track_persists=batch_persists,
            )
            fb.sink(res, batch_id)
        finally:
            for df in batch_persists:
                df.unpersist()

    fb.sink = lambda df, bid: None
    return fb


def exactly_once_parquet_sink(out_dir: str) -> Callable:
    """Idempotent per-batch parquet sink for ``fb.sink``: each micro-batch
    writes to a ``batch_id=<n>`` partition with dynamic partition
    overwrite, so an at-least-once REPLAY of a batch (post-failure
    recovery re-delivers the last uncommitted batch with the same
    batch_id) overwrites its own partition instead of appending
    duplicates — the written table is exactly-once."""
    from pyspark.sql import functions as F

    def sink(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return sink
