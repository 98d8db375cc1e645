"""Deterministic global training-order shuffle with exact ranks.

The last step of every LM data pipeline: shuffle the packed corpus into
a reproducible training order. ``df.orderBy(rand(seed))`` is neither
reproducible across engines nor rank-addressable; a global
``row_number()`` window is a single-partition bottleneck (the whole
corpus through one task). This operator produces an exact global rank
over the frozen order ``(md5(salt||id), id)`` with NO global sort and
NO single-partition stage:

1. draw   = first 8 hex chars of md5(salt||id)   (uniform, frozen)
2. bucket = first 2 hex chars of the draw (0..255) — a PREFIX of the
   sort key, so bucket boundaries are exact range boundaries of the
   total order (every key in bucket b sorts before every key in b+1);
   no sampled range partitioner, no nondeterminism
3. per-bucket counts → 256-row cumulative offsets (the only driver
   round-trip, bounded by the bucket fan-out, never by data)
4. rank = offset[bucket] + row_number within bucket ordered by
   (draw, id) — the window partitions by bucket, so the widest sort
   any task performs is ~corpus/256 (uniform by construction: the
   bucket IS a hash)

Cost: two passes over the key column (count + rank) and one shuffle on
``bucket``. The draw is a codegen scan expression both times — cheaper
than caching the corpus for most widths. Ranks are exact integers and
the order is engine-portable (a SQL ``row_number() OVER (ORDER BY
md5-prefix, id)`` reproduces it bit-for-bit), so a resumed or re-run
job trains on the identical sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .sampling import _hash_u32


def _draw(id_col: str, salt: str):
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
    )


def shuffle_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    rank_col: str = "shuffle_rank",
    bucket_chars: int = 2,
) -> DataFrame:
    """Adds ``rank_col``: the row's 0-based position in the frozen
    shuffled order ``(md5(salt||id), id)``. Exact, deterministic,
    repartition-stable; collisions in the 8-hex draw fall back to the
    id tie-break, so the order is total whenever ``id_col`` is unique.

    ``bucket_chars`` sets the bucket fan-out (16^chars): any width gives
    the IDENTICAL rank (the bucket is a prefix of the sort key at every
    width — only the decomposition changes). Size it so
    ``n_rows / 16^chars < 2^31``: ``row_number`` is a 32-bit counter, so
    the default 256 buckets cap at ~5×10^11 rows — pass 3 (4,096
    buckets) or 4 (65,536) for a 10^12-row corpus. Offsets ride a
    broadcast join (one row per non-empty bucket), never a literal CASE,
    so wide fan-outs don't bloat the plan.
    """
    if not 1 <= bucket_chars <= 8:
        raise ValueError(f"bucket_chars must be in 1..8, got {bucket_chars}")
    draw = _draw(id_col, salt)
    bucket = F.conv(F.substring(draw, 1, bucket_chars), 16, 10).cast("long")

    counts = (
        df.groupBy(bucket.alias("_b"))
        .agg(F.count("*").alias("_n"))
        .collect()
    )
    rows, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_b"]):
        rows.append((row["_b"], acc))
        acc += row["_n"]
    if not rows:
        return df.withColumn(rank_col, F.lit(None).cast("long"))
    offs = local_frame(df.sparkSession, rows, "_b long, _off long")

    w = Window.partitionBy("_b").orderBy(
        _draw(id_col, salt), F.col(id_col)
    )
    return (
        df.withColumn("_b", bucket)
        .join(F.broadcast(offs), "_b")
        .withColumn(
            rank_col,
            F.col("_off") + F.row_number().over(w).cast("long") - F.lit(1),
        )
        .drop("_b", "_off")
    )


def interleave_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Shuffled order + shard assignment for multi-reader training:
    shard = rank % n_shards, pos = rank / n_shards — round-robin over
    the shuffled sequence, so every shard sees an unbiased sample in a
    deterministic order (the standard data-loader contract)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    ranked = shuffle_corpus(df, id_col=id_col, salt=salt)
    return ranked.withColumn(
        "shard", (F.col("shuffle_rank") % n_shards).cast("int")
    ).withColumn(
        # integer division — exact at any rank (float / loses exactness
        # past 2^53)
        "pos",
        F.expr(f"shuffle_rank DIV {int(n_shards)}"),
    )
