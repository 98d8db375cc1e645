"""Streaming MinHash dedup (foreachBatch over parquet state tables):
the union of per-batch pair outputs must equal the batch operator over
the full corpus (each pair surfaces exactly once, when its later member
arrives); replays must be idempotent in both the state and the sink; no
cache entries may survive a batch (the state is storage, not memory)."""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from wayproblems_spark.operators.dedup import minhash_lsh_pairs
from wayproblems_spark.streaming.dedup_stream import dedup_foreach_batch
from wayproblems_spark.streaming.knn_stream import exactly_once_parquet_sink

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    """Documents + planted near-dups with ids interleaved ACROSS batches:
    the near-dup of an early doc arrives two batches later, so cross-batch
    state probing (not within-batch luck) is what must find most pairs."""
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    near = base.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra token"))
    )
    return base.unionByName(near).select("doc_id", "text")


def test_dedup_stream_matches_batch(spark, tmp_path):
    docs = _corpus(spark)
    expected = sorted(
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    )
    assert len(expected) >= 50  # the planted pairs actually band-match

    # three time-ordered micro-batch files; originals land in batches 0-1,
    # their near-dups in batches 1-2 (interleaved by sorting on doc_id
    # modulo the planted offset would keep pairs together — plain doc_id
    # sort splits originals and +100000 copies across the batch boundary)
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    src = tmp_path / "docs_stream"
    os.makedirs(src)
    k = len(pdf) // 3
    chunks = [pdf.iloc[:k], pdf.iloc[k : 2 * k], pdf.iloc[2 * k :]]
    for i, chunk in enumerate(chunks):
        p = str(src / f"part{i}.parquet")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(p)
        t = time.time() + i
        for root, _, files in os.walk(p):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    got = []
    fb = dedup_foreach_batch(str(tmp_path / "state"), jaccard_threshold=0.5)
    fb.sink = lambda df, bid: got.extend(
        (r["a"], r["b"], round(r["jaccard"], 9)) for r in df.collect()
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
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

    assert sorted(got) == expected


def test_dedup_stream_short_docs_match_batch(spark, tmp_path):
    """Docs shorter than k words (two words, empty or blank text) have no
    shingles, so they join no bucket; micro-batches holding them must
    still emit exactly the batch operator's pairs over the whole corpus."""
    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    short = pd.DataFrame({
        "doc_id": [200000, 200001, 200002, 200003, 200004, 200005],
        "text": ["two words", "", "two words", "   ", "a b c d", ""],
    })
    expected = sorted(
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(
            spark.createDataFrame(pd.concat([docs, short])), jaccard_threshold=0.5
        ).collect()
    )
    assert len(expected) >= 50

    got = []
    fb = dedup_foreach_batch(str(tmp_path / "state"), jaccard_threshold=0.5)
    fb.sink = lambda df, bid: got.extend(
        (r["a"], r["b"], round(r["jaccard"], 9)) for r in df.collect()
    )
    k = len(docs) // 3
    for bid in range(3):
        chunk = pd.concat([docs.iloc[bid * k : (bid + 1) * k if bid < 2 else None],
                           short.iloc[2 * bid : 2 * bid + 2]])
        fb(spark.createDataFrame(chunk), bid)
    assert sorted(got) == expected


def test_dedup_stream_replay_idempotent_and_cache_flat(spark, tmp_path, persisted_ids):
    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    half = len(docs) // 2
    b0 = spark.createDataFrame(docs.iloc[:half])
    b1 = spark.createDataFrame(docs.iloc[half:])

    out = str(tmp_path / "pairs_out")
    state = str(tmp_path / "state")
    fb = dedup_foreach_batch(state, jaccard_threshold=0.5)
    fb.sink = exactly_once_parquet_sink(out)

    cached_before = persisted_ids()
    fb(b0, 0)
    fb(b1, 1)
    assert persisted_ids() <= cached_before  # state is disk, nothing new cached

    once = sorted(map(tuple, spark.read.parquet(out).collect()))
    docs_rows = spark.read.parquet(os.path.join(state, "docs")).count()
    assert docs_rows == len(docs)
    assert len(once) > 0

    # replay batch 1 (post-failure at-least-once redelivery): state rows
    # for batch_id=1 are overwritten not duplicated, the probe excludes
    # the batch's own earlier write, and the sink partition is rewritten
    # with identical pairs
    fb(b1, 1)
    again = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert again == once
    assert spark.read.parquet(os.path.join(state, "docs")).count() == len(docs)
    assert persisted_ids() <= cached_before


def test_dedup_state_compaction(spark, tmp_path):
    """Compacting committed batches into batch_id=-1 must leave state row
    content identical, shrink the partition count, and leave subsequent
    batches' emitted pairs unchanged (vs an uncompacted control run)."""
    from wayproblems_spark.streaming.dedup_stream import compact_dedup_state

    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    k = len(docs) // 3
    batches = [
        spark.createDataFrame(docs.iloc[:k]),
        spark.createDataFrame(docs.iloc[k : 2 * k]),
        spark.createDataFrame(docs.iloc[2 * k :]),
    ]

    def run(state, compact_after_two):
        got = []
        fb = dedup_foreach_batch(state, jaccard_threshold=0.5)
        fb.sink = lambda df, bid: got.extend(
            (r["a"], r["b"], round(r["jaccard"], 9)) for r in df.collect()
        )
        fb(batches[0], 0)
        fb(batches[1], 1)
        if compact_after_two:
            stats = compact_dedup_state(spark, state, horizon_batch_id=2)
            assert stats["docs"] == 2 * k and stats["buckets"] > 0
        fb(batches[2], 2)
        return sorted(got)

    plain_state = str(tmp_path / "state_plain")
    comp_state = str(tmp_path / "state_comp")
    assert run(plain_state, False) == run(comp_state, True)

    for sub in ("docs", "buckets"):
        plain = spark.read.parquet(os.path.join(plain_state, sub))
        comp = spark.read.parquet(os.path.join(comp_state, sub))
        # row content identical modulo which batch_id partition holds it
        key = [c for c in plain.columns if c != "batch_id"]
        assert sorted(map(tuple, plain.select(*key).collect())) == sorted(
            map(tuple, comp.select(*key).collect())
        )
        parts = {
            n for n in os.listdir(os.path.join(comp_state, sub))
            if n.startswith("batch_id=")
        }
        assert parts == {"batch_id=-1", "batch_id=2"}


def test_dedup_state_compaction_crash_resume(spark, tmp_path):
    """Simulate a compaction that crashed between phase 2 (partition
    deletes) and phase 3 (staged-file move): the staging dir holds every
    folded row with _SUCCESS, one source partition is already gone. The
    next compact_dedup_state call must restore the full row content and
    leave the same end state as an uncrashed fold."""
    import shutil

    from wayproblems_spark.streaming.dedup_stream import compact_dedup_state

    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    k = len(docs) // 2
    state = str(tmp_path / "state")
    fb = dedup_foreach_batch(state, jaccard_threshold=0.5)
    fb(spark.createDataFrame(docs.iloc[:k]), 0)
    fb(spark.createDataFrame(docs.iloc[k:]), 1)

    dpath = os.path.join(state, "docs")
    before = sorted(
        map(tuple, spark.read.parquet(dpath).drop("batch_id").collect())
    )
    # phase 1 by hand (what a crashed call left behind)
    df = spark.read.parquet(dpath)
    df.filter("batch_id < 2").drop("batch_id").repartition(2, "_id").write.mode(
        "overwrite"
    ).parquet(dpath + "._compact_2")
    # phase-2 partial crash: one committed partition already deleted
    shutil.rmtree(os.path.join(dpath, "batch_id=0"))
    assert sorted(
        map(tuple, spark.read.parquet(dpath).drop("batch_id").collect())
    ) != before  # state really is inconsistent now

    compact_dedup_state(spark, state, horizon_batch_id=2)

    after = sorted(
        map(tuple, spark.read.parquet(dpath).drop("batch_id").collect())
    )
    assert after == before
    parts = {n for n in os.listdir(dpath) if n.startswith("batch_id=")}
    assert parts == {"batch_id=-1"}
    assert not any("._compact" in n for n in os.listdir(state))


def test_dedup_state_recompaction_crash_after_minus1_delete(spark, tmp_path):
    """The r5 ADVICE loss scenario: a RE-compaction (a ``batch_id=-1``
    partition already exists from an earlier fold) crashes after phase 2
    deleted that ``-1`` partition. All surviving rows exist only in the
    staging dir at that point; the resume must land every one of them in
    the new ``batch_id=-1`` (the old file-by-file move could leave rows in
    a partially-filled ``-1`` that the resume's phase-2 delete then
    destroyed — the atomic-rename fold has no such reachable state)."""
    import shutil

    from wayproblems_spark.streaming.dedup_stream import compact_dedup_state

    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    k = len(docs) // 2
    state = str(tmp_path / "state")
    fb = dedup_foreach_batch(state, jaccard_threshold=0.5)
    fb(spark.createDataFrame(docs.iloc[:k]), 0)
    compact_dedup_state(spark, state, horizon_batch_id=1)  # creates -1
    fb(spark.createDataFrame(docs.iloc[k:]), 1)

    dpath = os.path.join(state, "docs")
    before = sorted(
        map(tuple, spark.read.parquet(dpath).drop("batch_id").collect())
    )
    # phase 1 of the re-compaction by hand (horizon 2 folds -1 and 1)
    df = spark.read.parquet(dpath)
    df.filter("batch_id < 2").drop("batch_id").repartition(2, "_id").write.mode(
        "overwrite"
    ).parquet(dpath + "._compact_2")
    # crash right after phase 2 removed the OLD compacted partition: the
    # staging dir is now the only copy of those rows
    shutil.rmtree(os.path.join(dpath, "batch_id=-1"))
    shutil.rmtree(os.path.join(dpath, "batch_id=1"))

    compact_dedup_state(spark, state, horizon_batch_id=2)

    after = sorted(
        map(tuple, spark.read.parquet(dpath).drop("batch_id").collect())
    )
    assert after == before
    parts = {n for n in os.listdir(dpath) if n.startswith("batch_id=")}
    assert parts == {"batch_id=-1"}
    assert not any("._compact" in n for n in os.listdir(state))


def test_dedup_state_bucketed_probe_prunes(spark, tmp_path):
    """The buckets state is partitioned by pbucket = pmod(xxhash64(band,
    sig), K) and a literal isin over the batch's touched pbuckets reaches
    the scan as a PARTITION filter — the per-batch probe reads matching
    directories only, bounding probe I/O by buckets hit, not stream age."""
    docs = _corpus(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    state = str(tmp_path / "state")
    fb = dedup_foreach_batch(state, jaccard_threshold=0.5, n_state_buckets=8)
    fb(spark.createDataFrame(docs.iloc[:40]), 0)

    bdir = os.path.join(state, "buckets")
    b0 = os.path.join(bdir, "batch_id=0")
    pdirs = {n for n in os.listdir(b0) if n.startswith("pbucket=")}
    assert pdirs, "buckets state not pbucket-partitioned"

    probe = spark.read.parquet(bdir).filter(F.col("pbucket").isin([1, 5]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "pbucket" in pf[1][:300], plan[:2000]
