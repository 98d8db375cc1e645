"""Deduplication operators for large-scale training-data pipelines.

All candidate generation is JVM-side (hash/shingle/band expressions inside
whole-stage codegen); Python appears only in the simhash bit-vote, as a
vectorized numpy kernel over Arrow batches.

Scale design:
* exact dedup — one shuffle on the content hash; map-side partial agg.
* MinHash+LSH — per-shingle hashes once (longs from there on), minhash
  mins through an exploded codegen pipeline with map-side partial
  aggregation (higher-order array expressions are interpreted in Spark —
  measured ~10× slower); band buckets carry DOC IDS ONLY; bucket skew (a
  viral duplicate cluster) is bounded by a streaming within-bucket
  row_number cap with a `dropped` counter frame — no silent cap, no
  whole-bucket buffer anywhere.
* verification — exact Jaccard over hashed shingles, joined back only for
  surviving candidate pairs (pairs ≪ docs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, keeper_id): keeper = min id per identical text (md5)."""
    h = F.md5(F.col(text_col).cast("binary")).alias("h")
    keepers = (
        df.select(F.col(id_col), h)
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper_id"))
    )
    return (
        df.select(F.col(id_col), h)
        .join(keepers, "h")
        .select(id_col, "keeper_id")
    )


def word_shingles(text_col, k: int = 5):
    """Distinct k-word shingles, computed with array expressions; empty
    for a text with fewer than k words (``sequence(1, 0)`` counts down to
    ``[1, 0]``, and ``slice`` rejects start 0)."""
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def _shingle_hash_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(_id, hs) — one row per k-word-shingle OCCURRENCE, entirely in
    whole-stage codegen (round 7; guide §4.1 "prefer built-ins", §1.2
    "per-task work"). The previous form built per-doc shingle-hash
    ARRAYS through three interpreted higher-order expressions
    (transform(concat_ws(slice)) inside word_shingles, array_distinct on
    the strings, then a second transform+array_distinct for the hashes)
    — measured as HALF the whole minhash bench leg. Here the k aligned
    ``slice`` views of the token array are ``arrays_zip``-ed and
    exploded, so the per-shingle work (concat_ws of k struct fields +
    xxhash64) is plain codegen over rows.

    Value parity with the old array form (q21/q23/q30-locked): the
    shingle string for window i is ``concat_ws(" ", toks[i..i+k-1])`` in
    both; duplicates are NOT dropped here — the 64-min signature
    aggregate is duplicate-insensitive, and the per-doc distinct set for
    the Jaccard verify is rebuilt exactly by ``collect_set`` in the same
    aggregate (hash-then-distinct ≡ distinct-then-hash-then-distinct,
    which is what the old double array_distinct computed). Docs with
    fewer than k tokens produce zero rows (the old form's
    ``filter(size(shl) > 0)``)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    slices = df.select(
        F.col(id_col).alias("_id"),
        *[F.slice(toks, j + 1, m).alias(f"_t{j}") for j in range(k)],
    )
    w = F.explode(F.arrays_zip(*[F.col(f"_t{j}") for j in range(k)]))
    shingle = F.concat_ws(" ", *[F.col(f"_w._t{j}") for j in range(k)])
    return slices.select("_id", w.alias("_w")).select(
        "_id", F.xxhash64(shingle).alias("hs")
    )


# The band-signature aggregate columns are input-independent (they only
# reference the exploded `hs` column), but rebuilding them per call costs
# ~0.9 s of py4j round-trips + fresh-exprId analysis at EVERY parallelism
# level (measured: fresh-plan 1.67 s vs reused-expr 0.81 s for the agg job
# at local[8]) — a pure driver constant that poisoned the leg's N→4N
# scaling ratio and repeats per micro-batch in streaming dedup. Built once
# per (num_hashes, bands) per process, like engine._canonical_emissions.
_BAND_AGG_CACHE: dict = {}


def _band_agg_columns(num_hashes: int, bands: int) -> list:
    key = (num_hashes, bands)
    if key not in _BAND_AGG_CACHE:
        rows = num_hashes // bands
        # band signature FUSED into the aggregate: each output column is
        # xxhash64 over that band's seed-ordered mins (still num_hashes
        # min buffers inside one hash aggregate, but 16 output columns and
        # one less projection for the analyzer/optimizer to chew per call)
        _BAND_AGG_CACHE[key] = [
            F.xxhash64(
                *[
                    F.min(F.xxhash64(F.lit(b * rows + r), F.col("hs")))
                    for r in range(rows)
                ]
            ).alias(f"s{b}")
            for b in range(bands)
        ]
    return _BAND_AGG_CACHE[key]


def _band_buckets(rows: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, hs) shingle-hash rows → (_id, band, sig) band-bucket keys.

    ONE groupBy with num_hashes min-agg buffers in whole-stage codegen,
    map-side partial, rows staying docs×shingles (no 64× seed explode, no
    collect_list band agg). Band signature = xxhash64 over the band's
    seed-ordered mins (equality iff the min tuple matches; the scheme
    hashes seeded re-hashes of the per-shingle xxhash64, an equally valid
    minhash family). The min is duplicate-insensitive, so repeated
    shingles in ``rows`` do not change a signature."""
    sigs = rows.groupBy("_id").agg(*_band_agg_columns(num_hashes, bands))
    stack = ", ".join(f"{b}, s{b}" for b in range(bands))
    return sigs.select(
        "_id", F.expr(f"stack({bands}, {stack}) as (band, sig)")
    )


def _cap_buckets(buckets: DataFrame, max_bucket: int) -> tuple:
    """(ranked, kept) for a (band, sig, _id) frame: ``ranked`` adds the
    sort-based within-bucket ``rn`` (deterministic on id, streaming — no
    whole-bucket buffer), ``kept`` is (band, sig, _id) of the first
    ``max_bucket`` members of each bucket."""
    w = Window.partitionBy("band", "sig").orderBy("_id")
    ranked = buckets.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") <= max_bucket).select("band", "sig", "_id")
    return ranked, kept


def _bucket_pairs(kept: DataFrame) -> DataFrame:
    """(a, b) with a < b for every two members of one (band, sig) bucket:
    a codegen self-equi-join on the bucket key (both sides are the same
    capped frame, so its exchange is reused). A pair sharing several
    bands appears once per band."""
    return (
        kept.withColumnRenamed("_id", "a")
        .join(kept.withColumnRenamed("_id", "b"), ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )


def _verify_pairs(
    cand: DataFrame, sets: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact Jaccard over the hashed shingle sets ``sets`` (_id, shl) for
    the candidate pairs ``cand`` (a, b): the sets join back only for the
    candidates (pairs ≪ docs, so the join is selective)."""
    j = (
        cand.join(sets.select(F.col("_id").alias("a"), F.col("shl").alias("sha")), "a")
        .join(sets.select(F.col("_id").alias("b"), F.col("shl").alias("shb")), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size(F.array_union("sha", "shb")).cast("double")
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )


def minhash_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 64,
    track_persists: list | None = None,
) -> dict:
    """Near-duplicate detection: shingle → minhash → band buckets → exact
    Jaccard verify. Returns ``{"pairs": DataFrame(a, b, jaccard),
    "dropped": DataFrame(band, sig, bucket_n, dropped)}``.

    The shingle-hash rows (``_shingle_hash_rows``, one codegen row per
    shingle occurrence) are persisted internally: they feed both the
    signature aggregate and the per-doc set aggregate of the verify, so
    the input is scanned and tokenized once, not twice.
    ``track_persists`` (the knn pattern): pass a list to receive the
    persisted frame so long-running repeated callers can unpersist it
    after consuming the result. Callers that skip it accept one cached
    frame per call for the session (fine for one-shot jobs; Spark's
    CacheManager holds a strong reference, so a repeated caller MUST pass
    it — and note the CacheManager serves identical logical plans from
    cache, so two calls over a re-written parquet path would silently
    reuse the first call's shingles unless the first frame was
    unpersisted).

    Scale shape (the round-1 design shuffled full shingle arrays through
    all bands and collect_list'd whole buckets before capping — an OOM
    vector on a viral duplicate cluster):

    * band buckets carry DOC IDS ONLY — the shingle arrays never enter the
      bucket shuffle;
    * the bucket cap is a sort-based within-bucket row_number (streaming
      rank — no whole-bucket buffer exists anywhere), deterministic on id;
    * members beyond ``max_bucket`` are counted in the ``dropped`` frame —
      no silent cap;
    * shingles are joined back only for the surviving candidate pairs
      (pairs ≪ docs, so the verify join is selective).

    ``streaming.dedup_stream`` runs the same stages per micro-batch.
    """
    # per-shingle hashes once (longs from here on: light to shuffle, cheap
    # to intersect; collision probability over 64-bit hashes is negligible
    # and documented). The two consumers of the rows stay SEPARATE
    # aggregates deliberately: fusing collect_set into the signature
    # aggregate demotes the whole thing from a codegen HashAggregate to an
    # interpreted ObjectHashAggregate (collect_set is a
    # TypedImperativeAggregate) — measured slower; split, the 64-min/band
    # aggregate keeps whole-stage codegen and only the small set aggregate
    # pays the object path.
    rows = _shingle_hash_rows(df, id_col, text_col, k)
    rows = rows.persist()
    if track_persists is not None:
        track_persists.append(rows)
    sets = rows.groupBy("_id").agg(F.collect_set("hs").alias("shl"))
    ranked, kept = _cap_buckets(_band_buckets(rows, num_hashes, bands), max_bucket)

    dropped = (
        ranked.groupBy("band", "sig")
        .agg(F.count("*").alias("bucket_n"))
        .withColumn(
            "dropped", F.greatest(F.col("bucket_n") - max_bucket, F.lit(0))
        )
        .filter(F.col("dropped") > 0)
    )
    # cross-band duplicates of a pair drop on (a, b)
    cand = _bucket_pairs(kept).dropDuplicates(["a", "b"])
    pairs = _verify_pairs(cand, sets, jaccard_threshold)
    return {"pairs": pairs, "dropped": dropped}


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 64,
    track_persists: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with a < b — see minhash_lsh."""
    return minhash_lsh(
        df, id_col, text_col, k, num_hashes, bands, jaccard_threshold,
        max_bucket, track_persists,
    )["pairs"]


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given (a, b) candidate pairs; null for a
    pair of texts that both have fewer than k words (no n-grams)."""
    sh = df.select(
        F.col(id_col).alias("_id"), word_shingles(F.col(text_col), k).alias("sh")
    )
    j = (
        candidate_pairs.join(sh.withColumnRenamed("_id", "a").withColumnRenamed("sh", "sha"), "a")
        .join(sh.withColumnRenamed("_id", "b").withColumnRenamed("sh", "shb"), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size(F.array_union("sha", "shb")).cast("double")
    return j.select("a", "b", F.try_divide(inter, union).alias("jaccard"))


_udf_cache: dict = {}


def _simhash_udf():
    if "simhash" not in _udf_cache:

        @pandas_udf("long")
        def _sim(token_hashes: pd.Series) -> pd.Series:
            # batch-vectorized bit-vote over per-token xxhash64 values:
            # all documents' hashes are flattened once, then each of the
            # 64 bit planes is summed per-document with np.add.reduceat —
            # no per-row Python loop (the loop below is over the 64 bit
            # positions, not the batch), and peak extra memory is one
            # int64 column over the flattened tokens (a full (tokens, 64)
            # bit matrix would be 512 B/token).
            n = len(token_hashes)
            arrs = token_hashes.to_numpy()
            lens = np.array(
                [0 if a is None else len(a) for a in arrs], dtype=np.int64
            )
            out = np.zeros(n, dtype=np.uint64)
            nz = lens > 0
            if not nz.any():
                return pd.Series(out.view(np.int64))
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in arrs[nz]]
            ).view(np.uint64)
            nzl = lens[nz]
            starts = np.concatenate(([0], np.cumsum(nzl)[:-1]))
            word = np.zeros(int(nz.sum()), dtype=np.uint64)
            for b in range(64):
                col = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                ones = np.add.reduceat(col, starts)
                # majority vote: bit set iff votes = 2*ones - len > 0
                word |= (2 * ones > nzl).astype(np.uint64) << np.uint64(b)
            out[nz] = word
            return pd.Series(out.view(np.int64))

        _udf_cache["simhash"] = _sim
    return _udf_cache["simhash"]


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash long). Token hashes JVM-side; bit-vote in numpy."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(
        F.col(id_col), _simhash_udf()(th).alias("simhash")
    )


def simhash_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1024,
) -> dict:
    """Near-dup pairs by simhash hamming distance — see simhash_band_pairs
    for the banding; this wrapper computes the simhash column first."""
    s = simhash(df, id_col, text_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    return simhash_band_pairs(s, max_hamming, max_bucket)


def simhash_band_pairs(
    s: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 1024,
    rotations: int | None = None,
    width: int = 16,
) -> dict:
    """(_id, simhash) → ``{"pairs": DataFrame(a, b, hamming), "dropped":
    DataFrame(chunk, val, bucket_n, dropped)}``.

    Default banding is EXACT by pigeonhole: 64 bits split into
    ``max_hamming + 1`` near-equal chunks — a pair within the radius must
    agree on at least one whole chunk, so candidate generation has
    recall 1 at any radius (the round-2 fixed 4×16-bit layout silently
    lost recall for max_hamming > 3). Wider radii mean narrower chunks
    and so bigger buckets (~n/2^width each): the cap + ``dropped``
    counter govern that trade, same as before.

    ``rotations=`` opts into ROTATED-TABLE banding instead (the Manku et
    al. WWW'07 simhash-dedup table scheme): ``rotations`` tables, table t
    keyed by the ``width`` bits starting at cyclic offset
    ``t * (64 // rotations)``. Buckets are ~n/2^width regardless of the
    radius, so candidate volume stays flat where pigeonhole chunks
    narrow and flood (radius ≥ 4 leaves ≤ 12-bit chunks — a 13-bit
    boilerplate bit-region puts ALL docs in one bucket). RECALL CONTRACT:
    rotated banding is NOT exact — a pair within the radius is found iff
    at least one table's bit window avoids every differing bit (with
    defaults: guaranteed when some cyclic gap between differing bits
    spans a full aligned window, probable otherwise); pairs the windows
    miss are silently absent, so keep the exact pigeonhole default when
    completeness matters more than candidate volume. Precision is
    unaffected (the hamming ≤ radius verify runs either way).

    Scale guard (both schemes): a (chunk, val) bucket self-join is
    quadratic in bucket size — at 10⁹ docs a chunk value floods
    (boilerplate headers hash identically) and one bucket can hold
    millions of rows. Buckets are capped at ``max_bucket`` members with a
    deterministic sort-based rank (streaming window, no whole-bucket
    buffer) and the overflow is COUNTED in the ``dropped`` frame — no
    silent loss."""
    if rotations is not None:
        if not (1 <= rotations <= 64 and 1 <= width <= 63):
            raise ValueError("rotations must be in [1, 64], width in [1, 63]")
        step = 64 // rotations
        mask = (1 << width) - 1

        def window_key(t: int):
            s_bits = (t * step) % 64
            if s_bits == 0:
                rot = F.col("simhash")
            else:
                # cyclic right-rotate: the window's low bit lands at bit 0
                rot = F.shiftrightunsigned("simhash", s_bits).bitwiseOR(
                    F.shiftleft("simhash", 64 - s_bits)
                )
            return rot.bitwiseAND(F.lit(mask))

        chunks = F.array(
            *[
                F.struct(F.lit(t).alias("chunk"), window_key(t).alias("val"))
                for t in range(rotations)
            ]
        )
        return _banded_pairs(s, chunks, max_hamming, max_bucket)

    k = max_hamming + 1
    if not 1 <= k <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    base, rem = divmod(64, k)
    widths = [base + (1 if i < rem else 0) for i in range(k)]
    offs = [sum(widths[:i]) for i in range(k)]
    # width-64 mask (k=1, exact match) wraps a signed long: use all-ones
    masks = [-1 if w == 64 else (1 << w) - 1 for w in widths]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned("simhash", offs[i])
                .bitwiseAND(F.lit(masks[i]))
                .alias("val"),
            )
            for i in range(k)
        ]
    )
    return _banded_pairs(s, chunks, max_hamming, max_bucket)


def _banded_pairs(s: DataFrame, chunks, max_hamming: int, max_bucket: int) -> dict:
    """Shared tail of both banding schemes: explode bucket keys, cap with
    a streaming rank + count overflow, self-join within buckets, exact
    hamming verify. ``candidates`` in the returned dict is the
    pre-hamming-filter pair frame (lazy — only pay for it if counted),
    for measuring a scheme's candidate volume."""
    b = s.select("_id", "simhash", F.explode(chunks).alias("c")).select(
        "_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val")
    )
    w = Window.partitionBy("chunk", "val").orderBy("_id")
    ranked = b.withColumn("rn", F.row_number().over(w))
    dropped = (
        ranked.groupBy("chunk", "val")
        .agg(F.count("*").alias("bucket_n"))
        .withColumn(
            "dropped", F.greatest(F.col("bucket_n") - max_bucket, F.lit(0))
        )
        .filter(F.col("dropped") > 0)
    )
    capped = ranked.filter(F.col("rn") <= max_bucket).drop("rn")
    l = capped.alias("l")
    r = capped.alias("r")
    candidates = (
        l.join(r, ["chunk", "val"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
    )
    pairs = candidates.filter(F.col("hamming") <= max_hamming)
    return {"pairs": pairs, "dropped": dropped, "candidates": candidates}


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) — see simhash_near."""
    return simhash_near(df, id_col, text_col, max_hamming)["pairs"]
