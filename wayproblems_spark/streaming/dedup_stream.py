"""Streaming near-duplicate detection: flag each incoming document batch
against everything seen so far, through the PRODUCTION MinHash+LSH path.

This is the training-data-ingest shape of dedup: documents arrive as a
Structured-Streaming source; each micro-batch must be checked for
near-duplicates (a) within itself and (b) against the full already-seen
corpus, then folded into that corpus — without ever re-scanning or
re-signing old documents.

Shape: ``foreachBatch`` (the batch needs a multi-step plan: bucket join,
verify join, state append — not a single streaming transformation), with
the SEEN-CORPUS STATE kept as parquet tables on storage, not in executor
or driver memory:

  {state_dir}/docs     (batch_id, _id, shl)        hashed shingle sets
  {state_dir}/buckets  (batch_id, band, sig, _id)  LSH band-bucket keys

Each batch runs the batch operator's own stages (operators.dedup
``minhash_lsh``) over ITS OWN docs only: codegen shingle-hash rows, the
per-doc ``collect_set`` of hashes (persisted; its explode feeds the
signature aggregate), band buckets, the row_number bucket cap, and the
exact-Jaccard verify on surviving candidate pairs; plus one bucket-key
semi-join against the state buckets (selective: only buckets the batch
touches are read back — parquet pushdown on the band/sig equi-join
keys), and one write per state table. State size on disk is O(corpus),
but per-batch compute is O(batch + matching buckets) — the
build-once/stream-many cost shape shared with knn_stream / pip_stream,
except here the "index" legitimately GROWS, so it lives in storage
instead of a persisted broadcast. PATH CONTRACT: ``state_dir`` must be a
POSIX path (local disk, NFS, or a fuse mount of an object store) — the
existence probe (`_read_state`) and ``compact_dedup_state`` manage files
with os.path/shutil, which silently treat an s3a://-style URI as empty;
routing them through the Hadoop FileSystem API is the known follow-up if
raw object-store state is needed.

Delivery: each batch writes its state rows into its own directories,
``docs/batch_id=<n>`` and ``buckets/batch_id=<n>/pbucket=*``, with a
whole-directory overwrite, and state probes exclude the current
batch_id — a replayed (at-least-once) micro-batch replaces what it wrote
and re-emits identical pairs, so the written tables are exactly-once.
Pair it with ``knn_stream.exactly_once_parquet_sink`` for the same
property in the result table. The batch id reaches every write as a
path, never as a column literal, so it never makes a batch's generated
code new.

Equivalence contract (test-asserted): every near-dup pair is emitted
exactly once, in the batch where its LATER member arrives. Hence the
union of all per-batch outputs equals ``minhash_lsh_pairs`` over the full
corpus, whenever no LSH bucket exceeds ``max_bucket`` (the cap is applied
per arrival-prefix here but globally in the batch operator, so a binding
cap may keep/drop different members; both sides still count drops).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    _band_buckets,
    _bucket_pairs,
    _cap_buckets,
    _shingle_hash_rows,
    _verify_pairs,
)
from ..session import local_frame


def _read_state(spark, path: str, like: DataFrame) -> DataFrame:
    """State table, or an empty frame (schema = ``like`` + batch_id) on
    the very first batch — derived, not hardcoded, so any id type the
    caller uses flows through."""
    if os.path.exists(path):
        return spark.read.parquet(path)
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        list(like.schema.fields) + [StructField("batch_id", IntegerType())]
    )
    return local_frame(spark, [], schema)


def dedup_foreach_batch(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 64,
    n_state_buckets: int = 32,
) -> Callable:
    """Returns an on-batch callable for ``writeStream.foreachBatch`` that
    emits the batch's verified near-dup pairs (a, b, jaccard) — against
    both the batch itself and all previously seen documents — to the
    wrapped sink set via ``.sink``, then folds the batch into the
    persistent state under ``state_dir``.

    State bucketing: the buckets table is additionally partitioned by
    ``pbucket = pmod(xxhash64(band, sig), n_state_buckets)``. Each batch
    collects its (tiny, ≤ n_state_buckets) set of touched pbucket values
    and probes with a literal ``isin`` filter, so the state scan
    partition-prunes to matching directories instead of listing/reading
    every partition's footers — per-batch probe I/O is bounded by the
    buckets the batch actually hits at ANY corpus size. ``pbucket`` is a
    pure function of the join keys, so pruning never changes results.
    Changing ``n_state_buckets`` on an existing state dir is NOT
    supported (the partition value would disagree with old directories).

    Usage::

        fb = dedup_foreach_batch("/data/dedup_state")
        fb.sink = exactly_once_parquet_sink("/data/near_dup_pairs")
        docs.writeStream.foreachBatch(fb).start()
    """
    docs_dir = os.path.join(state_dir, "docs")
    buckets_dir = os.path.join(state_dir, "buckets")
    pb = F.pmod(F.xxhash64("band", "sig"), F.lit(n_state_buckets))

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        batch_persists: list = []

        def _persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            batch_persists.append(df)
            return df

        try:
            # the batch's per-doc hashed shingle sets: the verify's new
            # side, and (exploded; the min is duplicate-insensitive) the
            # signature input — one scan of the batch
            sets = _persist(
                _shingle_hash_rows(batch_df, id_col, text_col, k)
                .groupBy("_id")
                .agg(F.collect_set("hs").alias("shl"))
            )
            rows = sets.select("_id", F.explode("shl").alias("hs"))
            _, kept = _cap_buckets(_band_buckets(rows, num_hashes, bands), max_bucket)
            kept = _persist(kept)

            # cross candidates: batch bucket keys probe the state buckets.
            # Replay safety: a redelivered batch's own rows are already in
            # state — exclude them by batch_id. The probe is selective
            # twice over: a LITERAL pbucket isin (collected from the
            # batch, ≤ n_state_buckets ints) statically prunes the state
            # scan to matching partition directories, then the equi-join
            # on the batch's band/sig keys narrows within them; per-bucket
            # cap on the state side is ranked over the PROBED buckets
            # only, so the window never touches buckets the batch
            # doesn't hit. Both literals filter partition columns, so
            # they prune the listing and never reach generated code.
            pbs = [
                r[0]
                for r in kept.select(pb.alias("pbucket")).distinct().collect()
            ]
            seen_b = _read_state(
                spark, buckets_dir, kept.withColumn("pbucket", pb)
            ).filter(F.col("batch_id") != bid)
            if "pbucket" in seen_b.columns:  # pre-bucketing state dirs skip
                seen_b = seen_b.filter(
                    F.col("pbucket").isin(pbs) if pbs else F.lit(False)
                ).drop("pbucket")
            probed = seen_b.join(
                kept.select("band", "sig").distinct(), ["band", "sig"]
            )
            _, seen_kept = _cap_buckets(probed, max_bucket)
            cross = (
                seen_kept.withColumnRenamed("_id", "old")
                .join(kept.withColumnRenamed("_id", "new"), ["band", "sig"])
                .filter(F.col("old") != F.col("new"))
                .select(
                    F.least("old", "new").alias("a"),
                    F.greatest("old", "new").alias("b"),
                )
            )
            cand = _bucket_pairs(kept).unionByName(cross).dropDuplicates(["a", "b"])

            # the old side's sets join back from state ONLY for candidate
            # ids (selective)
            seen_docs = _read_state(spark, docs_dir, sets).filter(
                F.col("batch_id") != bid
            )
            sets_all = sets.unionByName(seen_docs.select("_id", "shl"))
            fb.sink(_verify_pairs(cand, sets_all, jaccard_threshold), bid)

            # fold the batch into state: its own directories, overwritten
            # whole (a replay replaces them); buckets also partition by
            # pbucket (probe pruning)
            sets.write.mode("overwrite").parquet(f"{docs_dir}/batch_id={bid}")
            kept.withColumn("pbucket", pb).write.mode("overwrite").partitionBy(
                "pbucket"
            ).parquet(f"{buckets_dir}/batch_id={bid}")
        finally:
            for df in batch_persists:
                df.unpersist()

    fb.sink = lambda df, bid: None
    return fb


def compact_dedup_state(
    spark, state_dir: str, horizon_batch_id: int, n_files: int = 8
) -> dict:
    """Fold all state partitions with ``batch_id < horizon_batch_id`` into
    the single compacted partition ``batch_id=-1``.

    A long-lived ingest stream leaves one (tiny) parquet partition per
    micro-batch; after thousands of batches the per-batch probe pays a
    footer/listing cost proportional to stream age, not corpus size.
    Compaction rewrites the old partitions into ``n_files`` files per
    table and removes them — row content identical, probe plans flat.

    Exactly-once contract: ``horizon_batch_id`` MUST be at most the
    stream's last CHECKPOINT-COMMITTED batch id, and the stream must be
    IDLE (between micro-batches, or stopped) while this runs — a batch in
    flight plans its state scan lazily and would see partitions appear
    and disappear mid-read. Structured Streaming only ever replays the
    batch(es) after the committed offset, so no replayed ``batch_id`` can
    collide with a compacted one (a collision would double the batch's
    rows in state — once under ``batch_id=-1``, once under its rewritten
    own partition). The compacted partition uses ``-1`` because real
    batch ids are non-negative, so every probe's ``batch_id != current``
    filter keeps matching it.

    Crash safety (write-ahead staging): the fold runs in three phases —
    (1) write ALL surviving rows (old partitions plus any existing
    ``batch_id=-1``) to a ``._compact`` staging dir (Spark leaves a
    ``_SUCCESS`` marker), (2) delete the folded partitions (including any
    previous ``batch_id=-1`` — its rows are in the staging), (3) RENAME
    the staging dir to ``batch_id=-1`` in one atomic step. A crash before
    (2) leaves state untouched (stale staging is overwritten next time);
    a crash during (2) or before (3) leaves a staging dir WITH
    ``_SUCCESS`` holding every folded row — the next call detects it and
    completes phases (2)+(3) before doing anything else, so no row is
    ever lost and no row is ever doubled (``batch_id=-1`` appears only
    via the rename, all-or-nothing; probes in the crash window see a
    smaller corpus until the resume, never duplicates).

    Returns {"docs": rows_compacted, "buckets": rows_compacted}.
    """
    import shutil

    def _finish(path: str, staging: str, horizon: int) -> None:
        # phases (2)+(3): delete the partitions this staging folded
        # (exactly those < the horizon ENCODED IN THE STAGING DIR NAME —
        # a resume must not delete partitions a crashed call never
        # staged; -1 < horizon, so a previously compacted partition is
        # deleted here too — its rows are in the staging), then RENAME the
        # staging dir into place as the new ``batch_id=-1``. The rename is
        # a single atomic step: a crash anywhere before it leaves the
        # staging (with its _SUCCESS) holding every surviving row, so the
        # resume preamble can always re-run this function; a file-by-file
        # move (the r5 implementation) could crash with some files already
        # in ``batch_id=-1`` and then lose them on resume when this loop
        # deleted the partial -1 partition. The _SUCCESS marker renamed
        # along is harmless — readers ignore underscore files. Idempotent.
        for name in os.listdir(path):
            if not name.startswith("batch_id="):
                continue
            if int(name.split("=", 1)[1]) < horizon:
                shutil.rmtree(os.path.join(path, name))
        os.rename(staging, os.path.join(path, "batch_id=-1"))

    out = {}
    for sub, keys in (("docs", ["_id"]), ("buckets", ["band", "sig"])):
        path = os.path.join(state_dir, sub)
        if not os.path.exists(path):
            out[sub] = 0
            continue
        parent, base = os.path.dirname(path), os.path.basename(path)
        for name in os.listdir(parent):
            if not name.startswith(base + "._compact_"):
                continue
            stale = os.path.join(parent, name)
            if os.path.exists(os.path.join(stale, "_SUCCESS")):
                # crash-resume: a previous call staged everything but
                # died before finishing — complete ITS fold (at ITS
                # horizon, parsed from the dir name) first, restoring a
                # consistent state before this call re-folds
                _finish(path, stale, int(name.rsplit("_", 1)[1]))
            else:
                shutil.rmtree(stale)  # phase-1 crash: state untouched
        df = spark.read.parquet(path)
        old = df.filter(F.col("batch_id") < horizon_batch_id)
        n = old.count()
        out[sub] = n
        if n == 0:
            continue
        # phase (1): stage every surviving row (incl. any existing -1).
        # A pbucket-bucketed table keeps its pbucket=* layout inside the
        # staging (and so inside batch_id=-1 after the rename): rows are
        # repartitioned BY pbucket so each directory gets one file, and
        # probe pruning keeps working across compactions.
        staging = f"{path}._compact_{horizon_batch_id}"
        part_cols = [c for c in ("pbucket",) if c in df.columns]
        writer = (
            old.drop("batch_id")
            .repartition(n_files, *(part_cols or keys))
            .write.mode("overwrite")
        )
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(staging)
        _finish(path, staging, horizon_batch_id)
    return out
