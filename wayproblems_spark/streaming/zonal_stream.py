"""Streaming zonal statistics — incremental per-polygon rollups.

The dashboard case for G4/zonal: a point stream (events with lat/lon +
payload columns) accumulates per-(poly_id, kind) aggregates across
micro-batches. Decomposition is the classic partial-aggregate one —
every statistic zonal_stats emits is a fold of per-batch PARTIALS:

    n_points  = Σ batch n          v_sum = Σ batch sums (decimal, exact)
    v_min/max = min/max of batch mins/maxes
    v_avg     = total v_sum / total v_cnt   (v_cnt = Σ non-null counts)

so each batch writes only its own partial frame (polygon-count-sized)
by overwriting its own `batch_id=<n>` directory — the knn/pip stream
exactly-once discipline: an at-least-once replay of a batch replaces
its own partition, and `zonal_totals` (the read view) folds whatever
partitions exist. Totals over batches 0..n are therefore
IDENTICAL to one-shot `zonal_stats` over the concatenated points
(decimal partial sums are associative; min/max/count trivially so) —
test-asserted, not approximate.

The polygon index is built once outside the stream (`build_pip_index`,
persisted broadcast frames) and closed over by the batch function; each
batch pays only its own containment join. State growth is
batches × |polygons| rows of numbers — compact_dedup_state's fold
pattern applies unchanged if a long-lived stream ever needs it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.zonal import zonal_partials
from ..session import local_frame
from .knn_stream import exactly_once_parquet_sink

__all__ = ["zonal_foreach_batch", "zonal_totals"]


def zonal_foreach_batch(
    spark,
    prebuilt,
    state_dir: str,
    value_cols: tuple[str, ...] = (),
    id_col: str = "point_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> Callable:
    """`foreachBatch` function: each micro-batch appends its partial
    aggregate (:func:`zonal_partials` — the SAME builder zonal_stats
    finalizes, so batch/stream numeric discipline cannot drift) under
    `batch_id=<n>` through the shared exactly-once parquet sink.
    `prebuilt` is a persisted :func:`build_pip_index` result; build it
    once before starting the stream."""
    sink = exactly_once_parquet_sink(state_dir)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            zonal_partials(
                spark, batch_df, None, value_cols,
                id_col=id_col, lat_col=lat_col, lon_col=lon_col,
                prebuilt=prebuilt,
            ),
            batch_id,
        )

    return fb


def zonal_totals(
    spark, state_dir: str, value_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Fold the state partitions into the zonal_stats output shape:
    (poly_id, kind, n_points[, v_sum, v_min, v_max, v_avg ...]).
    An empty/unwritten state (stream started, no contained points yet)
    folds to zero rows rather than a read error."""
    from pyspark.errors import AnalysisException

    try:
        state = spark.read.parquet(state_dir)
    except AnalysisException:
        ddl = "poly_id long, kind string, n_points long" + "".join(
            f", {v}_sum decimal(38,6), {v}_min double, {v}_max double, "
            f"{v}_avg double"
            for v in value_cols
        )
        return local_frame(spark, [], ddl)
    aggs = [F.sum("n_points").alias("n_points")]
    for v in value_cols:
        aggs += [
            F.sum(F.col(f"{v}_sum")).alias(f"{v}_sum"),
            F.sum(F.col(f"{v}_cnt")).alias(f"_{v}_cnt"),
            F.min(F.col(f"{v}_min")).alias(f"{v}_min"),
            F.max(F.col(f"{v}_max")).alias(f"{v}_max"),
        ]
    out = state.groupBy("poly_id", "kind").agg(*aggs)
    for v in value_cols:
        out = out.withColumn(
            f"{v}_avg",
            F.col(f"{v}_sum").cast("double") / F.col(f"_{v}_cnt"),
        ).drop(f"_{v}_cnt")
        # Spark's SUM over decimal(38,6) stays decimal(38,6); re-cast so
        # the folded sum's type matches zonal_stats' batch output exactly
        out = out.withColumn(f"{v}_sum", F.col(f"{v}_sum").cast("decimal(38,6)"))
    return out
