"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing — tested on the driver testdata tables + synthetic
duplicates with python oracles."""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import functions as F

from wayproblems_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from wayproblems_spark.operators.multimodal import (
    audio_metadata,
    fake_audio_bytes,
    fake_image_bytes,
    frame_sample_plan,
    image_metadata,
)
from wayproblems_spark.operators.similarity import cosine_topk, lsh_topk
from wayproblems_spark.operators.textstats import document_stats

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup(spark):
    base = _docs(spark).limit(50)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    df = base.unionByName(dup)
    res = {r["doc_id"]: r["keeper_id"] for r in exact_dedup(df).collect()}
    originals = [r["doc_id"] for r in base.collect()]
    for d in originals:
        assert res[d] == d
        assert res[d + 100000] == d


def test_minhash_lsh_finds_near_dups(spark):
    base = _docs(spark).limit(40)
    # near-duplicate: append two words (high jaccard); distinct otherwise
    near = base.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra token"))
    )
    df = base.unionByName(near)
    pairs = {
        (r["a"], r["b"]) for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
    }
    ids = [r["doc_id"] for r in base.collect()]
    found = sum((d, d + 100000) in pairs for d in ids)
    assert found >= len(ids) * 0.9  # LSH recall on 0.9+-jaccard pairs

    # verify jaccard values against python oracle for found pairs
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, spark.createDataFrame(
            [(a, b) for a, b in sorted(pairs)[:10]], "a long, b long"), k=3).collect()
    }
    for (a, b), j in got.items():
        def sh(t, k=3):
            toks = t.lower().split()
            return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        sa, sb = sh(texts[a]), sh(texts[b])
        exp = len(sa & sb) / len(sa | sb)
        assert abs(j - exp) < 1e-9


def test_ngram_jaccard_short_docs(spark):
    """Texts with fewer than k words have no k-grams: Jaccard 0 against a
    longer text, null between two such texts (not a ``slice`` start-0
    error, nor a division by zero)."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, ""),
            (3, "one two three four five"),
            (4, "one two three four six"),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 3), (2, 3), (1, 2), (3, 4)], "a long, b long")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, cand, k=3).collect()
    }
    assert got == {(1, 3): 0.0, (2, 3): 0.0, (1, 2): None, (3, 4): 0.5}


def test_simhash_near_pairs(spark):
    base = _docs(spark).limit(30)
    clone = base.withColumn("doc_id", F.col("doc_id") + 100000)  # identical text
    df = base.unionByName(clone)
    s = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    for r in base.collect():
        assert s[r["doc_id"]] == s[r["doc_id"] + 100000]
    pairs = {(r["a"], r["b"]) for r in simhash_near_pairs(df, max_hamming=3).collect()}
    ids = [r["doc_id"] for r in base.collect()]
    assert all((d, d + 100000) in pairs for d in ids)


def test_cosine_topk_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    rows = emb.collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows[:5]], "q_id long, q_vec array<float>"
    )
    got = cosine_topk(emb, queries, k=5).collect()

    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    for q_i in range(5):
        sims = mat @ mat[q_i] / (norms * norms[q_i])
        order = np.lexsort((ids, -sims))[:5]
        exp = [int(ids[o]) for o in order]
        g = sorted([r for r in got if r["q_id"] == ids[q_i]], key=lambda r: r["rank"])
        assert [r["vec_id"] for r in g] == exp
        for r, o in zip(g, order):
            assert abs(r["sim"] - sims[o]) < 1e-9


def test_lsh_topk_recall_on_planted_neighbors(spark):
    """Hyperplane LSH is a high-similarity detector: recall is measured on
    planted near-duplicates (cos≈0.99), not on random near-orthogonal
    vectors where no LSH family can bucket effectively."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    rows = emb.collect()
    dim = len(rows[0]["embedding"])
    rng = np.random.RandomState(0)
    planted = []
    for r in rows[:8]:
        v = np.array(r["embedding"], dtype=np.float64)
        for j in range(2):
            nv = v + rng.standard_normal(dim) * 0.02 * np.linalg.norm(v) / np.sqrt(dim)
            planted.append((int(r["vec_id"]) + 100000 + j * 100000, nv.astype(np.float32).tolist()))
    corpus = emb.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>").withColumn(
            "label", F.lit(-1)
        )
    )
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows[:8]], "q_id long, q_vec array<float>"
    )
    approx = lsh_topk(corpus, queries, dim=dim, k=3, n_planes=10, n_tables=8).collect()
    a = {(r["q_id"], r["vec_id"]) for r in approx}
    hits = sum(
        ((q, q + 100000) in a) + ((q, q + 200000) in a)
        for q in [r["vec_id"] for r in rows[:8]]
    )
    assert hits >= 12  # ≥75% of 16 planted near-dups retrieved
    # the query itself (sim=1.0) must always be retrieved
    assert all((r["vec_id"], r["vec_id"]) in a for r in rows[:8])


def test_document_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "der hund ist nicht auf der strasse und das ist gut", "de"),
            (3, "", "en"),
            (4, "le chat est dans la maison et les oiseaux", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r for r in document_stats(df).collect()}
    assert got[1]["token_count"] == 9
    assert got[1]["lang_guess"] == "en"
    assert got[2]["lang_guess"] == "de"
    assert got[3]["token_count"] == 0
    assert got[4]["lang_guess"] == "fr"
    assert got[1]["fingerprint"] != got[2]["fingerprint"]
    # fingerprint is deterministic
    again = {r["doc_id"]: r for r in document_stats(df).collect()}
    assert all(got[k]["fingerprint"] == again[k]["fingerprint"] for k in got)


def test_multimodal_metadata(spark):
    imgs = spark.createDataFrame(
        [
            (1, fake_image_bytes(640, 480, seed=1)),
            (2, fake_image_bytes(32, 32, seed=2)),
            (3, b"not an image"),
            (4, None),
        ],
        "id long, blob binary",
    )
    got = {r["id"]: r for r in image_metadata(imgs).collect()}
    assert got[1]["width"] == 640 and got[1]["height"] == 480 and got[1]["valid"]
    assert got[2]["width"] == 32 and got[2]["valid"]
    assert not got[3]["valid"] and not got[4]["valid"]

    auds = spark.createDataFrame(
        [(1, fake_audio_bytes(16000, 48000, seed=3)), (2, b"xx")],
        "id long, blob binary",
    )
    a = {r["id"]: r for r in audio_metadata(auds).collect()}
    assert a[1]["sample_rate"] == 16000 and a[1]["n_samples"] == 48000 and a[1]["valid"]
    assert not a[2]["valid"]

    frames = frame_sample_plan(imgs, every_n=3).collect()
    assert {(r["id"], r["frame_idx"]) for r in frames if r["id"] == 1} == {
        (1, 0), (1, 3), (1, 6), (1, 9)
    }


def test_minhash_viral_cluster_bounded_with_drop_counter(spark):
    """A 10k-member identical-text cluster must complete without
    materializing the whole bucket, cap pairs at max_bucket members, and
    COUNT the overflow in the dropped frame."""
    from wayproblems_spark.operators.dedup import minhash_lsh

    viral = spark.range(0, 10000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same viral boilerplate text repeated across the web corpus").alias("text"),
    )
    out = minhash_lsh(viral, max_bucket=32, jaccard_threshold=0.5)
    pairs = out["pairs"].collect()
    # capped: only the first 32 members pair up → C(32,2) pairs
    assert len(pairs) == 32 * 31 // 2
    dropped = out["dropped"].collect()
    assert dropped, "drop counter must report the capped buckets"
    # identical docs share every band bucket: each reports 10000-32 dropped
    for r in dropped:
        assert r["bucket_n"] == 10000 and r["dropped"] == 10000 - 32


def test_simhash_identical_chunk_flood_bounded(spark):
    """Adversarial corpus where one 16-bit chunk collides for everyone:
    candidates stay bounded by max_bucket and overflow is counted."""
    from wayproblems_spark.operators.dedup import simhash_near

    flood = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same boilerplate text on every single page").alias("text"),
    )
    out = simhash_near(flood, max_hamming=3, max_bucket=50)
    # identical simhash → all 4 chunk buckets hold all 3000 docs, capped to
    # the same (orderBy id) 50 members → C(50,2) deduped pairs
    assert out["pairs"].count() == 50 * 49 // 2
    drop_rows = out["dropped"].collect()
    assert len(drop_rows) == 4
    for r in drop_rows:
        assert r["bucket_n"] == 3000 and r["dropped"] == 2950


def test_ivf_topk_recall_on_planted_neighbors(spark):
    """IVF coarse quantizer + nprobe search must recover planted near
    neighbors (clustered corpus — IVF's home turf) and stay deterministic
    across partitionings."""
    import numpy as np

    from wayproblems_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 8, 40
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for _ in range(per):
            v = center + rng.normal(scale=0.05, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # queries: tiny perturbations of known rows → their source row must rank #1
    q_rows = [(i, [float(x + 0.001) for x in rows[i * per][1]]) for i in range(n_clusters)]
    queries = spark.createDataFrame(q_rows, "q_id long, q_vec array<double>")

    out = ivf_topk(corpus, queries, dim=dim, k=5, n_lists=8, nprobe=2, iters=4)
    top1 = {r["q_id"]: r["vec_id"] for r in out.filter(F.col("rank") == 1).collect()}
    hits = sum(top1.get(q) == q * per for q in range(n_clusters))
    assert hits >= n_clusters - 1  # allow one cluster-merge miss

    out2 = ivf_topk(
        corpus.repartition(13), queries, dim=dim, k=5, n_lists=8, nprobe=2, iters=4
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_ivf_prebuilt_index_identical(spark, tmp_path):
    """build_ivf_index + prebuilt= (the build-once/query-many path, incl.
    the bucketed-parquet materialization) must return exactly what the
    direct per-call-assignment path returns."""
    import numpy as np

    from wayproblems_spark.operators.similarity import build_ivf_index, ivf_topk

    rng = np.random.default_rng(11)
    dim = 12
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q_rows = [(i, [float(x + 0.01) for x in rows[i * 30][1]]) for i in range(8)]
    queries = spark.createDataFrame(q_rows, "q_id long, q_vec array<double>")

    direct = sorted(
        map(tuple, ivf_topk(corpus, queries, dim=dim, k=5, n_lists=6, nprobe=2, iters=3).collect())
    )
    idx = build_ivf_index(corpus, dim, n_lists=6, iters=3)
    via_prebuilt = sorted(
        map(tuple, ivf_topk(corpus, queries, dim=dim, k=5, nprobe=2, prebuilt=idx).collect())
    )
    idx[1].unpersist()
    assert via_prebuilt == direct

    idx_mat = build_ivf_index(
        corpus, dim, n_lists=6, iters=3, materialize_dir=str(tmp_path / "ivf")
    )
    via_mat = sorted(
        map(tuple, ivf_topk(corpus, queries, dim=dim, k=5, nprobe=2, prebuilt=idx_mat).collect())
    )
    assert via_mat == direct


def test_embedding_near_dups_planted(spark):
    """Planted near-identical embedding pairs must surface; unrelated
    vectors must not; the dropped frame stays empty below the cap."""
    import numpy as np

    from wayproblems_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(5)
    dim = 32
    base = rng.standard_normal((50, dim))
    rows = []
    for i in range(50):
        rows.append((i, [float(x) for x in base[i]]))
        # ids 1000+i: tiny perturbation of i → cosine ≈ 0.9999
        rows.append(
            (1000 + i, [float(x) for x in base[i] + 0.005 * rng.standard_normal(dim)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dups(df, dim, threshold=0.98, n_planes=10, n_tables=8)
    pairs = {(r["a"], r["b"]) for r in out["pairs"].collect()}
    planted = {(i, 1000 + i) for i in range(50)}
    # LSH recall over 8 tables at cos≈0.9999 is ~1; require ≥ 90% found
    assert len(pairs & planted) >= 45
    # no unrelated random pair passes the 0.98 exact verify
    assert all(b - a == 1000 for a, b in pairs)
    assert out["dropped"].count() == 0


def test_simhash_banding_exact_at_any_radius(spark):
    """Pigeonhole banding must have recall 1 at the requested radius —
    including radii > 3, where the round-2 fixed 4x16 layout silently
    missed pairs. Crafted 64-bit values at known hamming distances."""
    import numpy as np

    from wayproblems_spark.operators.dedup import simhash_band_pairs

    rng = np.random.RandomState(13)
    rows = []
    expected = set()
    vid = 0
    for grp in range(30):
        base = np.int64(rng.randint(-(2**62), 2**62))
        d = grp % 8  # hamming distances 0..7
        flip = np.int64(0)
        for bit in rng.choice(64, size=d, replace=False):
            flip ^= np.int64(1) << np.int64(int(bit))
        a_id, b_id = vid, vid + 1
        vid += 2
        rows.append((a_id, int(base)))
        rows.append((b_id, int(base ^ flip)))
        if d <= 6:
            expected.add((a_id, b_id, d))
    s = spark.createDataFrame(rows, "_id long, simhash long")
    out = simhash_band_pairs(s, max_hamming=6)["pairs"]
    got = {(r["a"], r["b"], r["hamming"]) for r in out.collect()
           if r["b"] - r["a"] == 1 and r["a"] % 2 == 0}
    assert got == expected and len(expected) > 20


def test_simhash_rotated_tables_candidate_reduction(spark):
    """Rotated-table banding (opt-in rotations=/width=) must cut candidate
    volume vs pigeonhole at radius >= 4 while keeping recall 1 on the
    planted pairs (VERDICT r4 next-round #7).

    Construction: every signature shares a 13-bit zero "boilerplate"
    region (bits 0..12) — exactly chunk 0 of the radius-4 pigeonhole
    layout, so pigeonhole floods one bucket with ALL docs and its
    candidate count is ~C(n,2). Rotated 8x16-bit windows each include
    >= 3 random bits (the zero region is narrower than a window), so
    buckets split and candidates collapse. Planted pairs differ at bits
    {13, 20, 35, 50}: the window at cyclic offset 56 (bits 56..63, 0..7)
    avoids all four, so recall is structural, not luck."""
    import numpy as np

    from wayproblems_spark.operators.dedup import simhash_band_pairs

    rng = np.random.RandomState(31)
    rows = []
    expected = set()
    n_base = 300
    flip = np.uint64((1 << 13) | (1 << 20) | (1 << 35) | (1 << 50))
    for i in range(n_base):
        sig = np.uint64(rng.randint(0, 2**51)) << np.uint64(13)
        rows.append((2 * i, int(sig.view(np.int64))))
        if i % 10 == 0:  # plant a hamming-4 partner
            rows.append((2 * i + 1, int((sig ^ flip).view(np.int64))))
            expected.add((2 * i, 2 * i + 1))
    s = spark.createDataFrame(rows, "_id long, simhash long")

    pig = simhash_band_pairs(s, max_hamming=4, max_bucket=100_000)
    rot = simhash_band_pairs(
        s, max_hamming=4, max_bucket=100_000, rotations=8, width=16
    )
    got_rot = {(r["a"], r["b"]) for r in rot["pairs"].collect()}
    assert expected <= got_rot  # recall 1 on planted pairs
    # precision: the hamming verify runs either way
    assert rot["pairs"].filter(F.col("hamming") > 4).count() == 0

    cand_pig = pig["candidates"].count()
    cand_rot = rot["candidates"].count()
    # pigeonhole's flooded 13-bit chunk produces ~C(n,2) candidates;
    # rotated windows must cut that by a large factor
    assert cand_pig > (n_base * (n_base - 1)) // 2 * 0.9
    assert cand_rot < cand_pig / 5


def test_quantize_int8_reconstruction_and_edges(spark):
    from wayproblems_spark.operators.similarity import dequantize_int8, quantize_int8

    rows = [
        (0, [0.5, -1.0, 0.25, 127.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),          # all-zero → scale 1.0, q all 0
        (2, [1e-6, -1e-6, 5e-7, 0.0]),      # tiny magnitudes
        (3, [-3.5, 3.5, 1.75, -1.75]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_int8(df)
    got = {r["vec_id"]: r for r in q.withColumn(
        "recon", dequantize_int8(q)
    ).collect()}
    assert got[1]["scale"] == 1.0 and all(x == 0 for x in got[1]["q"])
    for i, vec in rows:
        scale = got[i]["scale"]
        assert all(-127 <= x <= 127 for x in got[i]["q"])
        for orig, rec in zip(vec, got[i]["recon"]):
            # float32 storage error is far below scale/2 here
            assert abs(float(orig) - rec) <= scale / 2 + 1e-9
    # max-magnitude element hits exactly ±127
    assert 127 in got[0]["q"] or -127 in got[0]["q"]
