"""Training-data pipeline operator tests: planted exact/near duplicates,
ANN recall vs brute force, multimodal batch plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from simplecrawler_spark import codec
from simplecrawler_spark.pipeline import dedup, similarity, text, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i in range(60):
        n = int(rng.integers(20, 60))
        rows.append((i, " ".join(rng.choice(words, n))))
    # planted exact duplicates
    rows.append((100, rows[3][1]))
    rows.append((101, rows[3][1]))
    # planted near-duplicate (small edit)
    rows.append((102, rows[5][1] + " omega"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dupes(spark, docs):
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dupes(docs).collect()}
    assert out[3] == 3
    assert sum(out.values()) == docs.count()


def test_minhash_finds_planted_near_dup(spark, docs):
    sigs = dedup.minhash_signatures(docs, num_perm=64)
    pairs = dedup.minhash_pairs(sigs, bands=16)
    verified = dedup.jaccard_verify(pairs, docs, threshold=0.6)
    got = {(r["a"], r["b"]) for r in verified.collect()}
    assert (5, 102) in got
    assert (3, 100) in got and (3, 101) in got and (100, 101) in got


def test_hot_bucket_cap_prevents_pair_explosion(spark, docs):
    """A planted degenerate bucket (2,000 identical boilerplate docs) must
    not explode into O(n²) pairs: the capped path drops the hot bucket
    (logged) while a planted near-dup pair in a normal bucket survives."""
    boiler = [(10_000 + i, "lorem ipsum boilerplate footer") for i in range(2000)]
    extra = spark.createDataFrame(boiler, "doc_id long, text string")
    both = docs.unionByName(extra)
    sigs = dedup.minhash_signatures(both, num_perm=32)
    pairs = dedup.minhash_pairs(sigs, bands=8, max_bucket=100).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert not any(a >= 10_000 and b >= 10_000 for a, b in got), \
        "boilerplate bucket leaked quadratic pairs"
    assert (3, 100) in got  # planted exact dup still found
    assert len(got) < 5_000

    # simhash path: same degenerate set, capped segments
    fps = dedup.simhash_fingerprints(both)
    sp = dedup.simhash_pairs(fps, max_hamming=3, max_bucket=100).collect()
    sgot = {(r["a"], r["b"]) for r in sp}
    assert not any(a >= 10_000 and b >= 10_000 for a, b in sgot)
    assert len(sgot) < 5_000


def test_embedding_hot_bucket_cap(spark, embeddings):
    """Degenerate identical vectors collapse into one LSH bucket — capped."""
    df, _ = embeddings
    rows = [(20_000 + i, [0.5] * 16) for i in range(500)]
    extra = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    both = df.unionByName(extra)
    out = similarity.embedding_near_dupes(both, threshold=0.99, n_bits=6,
                                          max_bucket=50).collect()
    got = {(r["a"], r["b"]) for r in out}
    assert not any(a >= 20_000 and b >= 20_000 for a, b in got)


def test_minhash_jaccard_estimate_close_to_exact(spark, docs):
    # signature agreement rate ≈ true Jaccard (property of MinHash)
    sigs = {r["doc_id"]: np.array(r["signature"]) for r in
            dedup.minhash_signatures(docs, num_perm=128).collect()}
    ha = dedup._shingle_hashes(docs.where("doc_id=5").collect()[0]["text"], 5)
    hb = dedup._shingle_hashes(docs.where("doc_id=102").collect()[0]["text"], 5)
    inter = len(np.intersect1d(ha, hb))
    true_j = inter / (len(ha) + len(hb) - inter)
    est = (sigs[5] == sigs[102]).mean()
    assert abs(est - true_j) < 0.15


def test_minhash_oph_finds_planted_dups(spark, docs):
    """OPH (built-ins, oracle-checkable) finds the planted exact + near dups
    and never reports a pair below the verify threshold."""
    out = dedup.minhash_oph_pairs(docs, threshold=0.6).collect()
    got = {(r["a"], r["b"]) for r in out}
    assert (3, 100) in got and (3, 101) in got and (100, 101) in got
    assert (5, 102) in got
    assert all(r["jaccard"] >= 0.6 for r in out)
    # exact duplicates must verify at jaccard exactly 1.0
    exact = {r["jaccard"] for r in out if (r["a"], r["b"]) == (3, 100)}
    assert exact == {1.0}


def test_minhash_oph_hot_bucket_cap(spark, docs):
    boiler = [(30_000 + i, "lorem ipsum boilerplate footer") for i in range(2000)]
    extra = spark.createDataFrame(boiler, "doc_id long, text string")
    out = dedup.minhash_oph_pairs(docs.unionByName(extra), threshold=0.6,
                                  max_bucket=100).collect()
    got = {(r["a"], r["b"]) for r in out}
    assert not any(a >= 30_000 and b >= 30_000 for a, b in got), \
        "boilerplate bucket leaked quadratic pairs"
    assert (3, 100) in got
    assert len(got) < 5_000


def test_axis_sign_near_dupes(spark, embeddings):
    df, base = embeddings
    got = {(r["a"], r["b"]) for r in similarity.axis_sign_near_dupes(
        df, threshold=0.99, dims=list(range(0, 16, 2))).collect()}
    assert (3, 7) in got
    # no pair below threshold sneaks through
    out = similarity.axis_sign_near_dupes(df, threshold=0.99,
                                          dims=list(range(0, 16, 2))).collect()
    assert all(r["cosine"] >= 0.99 for r in out)


def test_simhash_near_dup(spark, docs):
    fps = dedup.simhash_fingerprints(docs)
    pairs = dedup.simhash_pairs(fps, max_hamming=3)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (3, 100) in got and (100, 101) in got  # exact dupes: hamming 0


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[7] = base[3] + rng.standard_normal(16).astype(np.float32) * 0.01  # near-dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_cosine_topk_matches_numpy(spark, embeddings):
    df, base = embeddings
    q = base[0]
    got = [r["vec_id"] for r in similarity.cosine_topk(
        df.where("vec_id != 0"), [float(x) for x in q], k=5).collect()]
    sims = base @ q / (np.linalg.norm(base, axis=1) * np.linalg.norm(q))
    sims[0] = -np.inf
    want = list(np.argsort(np.round(-sims, 4), kind="stable")[:5])
    assert got == [int(x) for x in want]


def test_ann_lsh_recall(spark, embeddings):
    df, base = embeddings
    q = base[0]
    exact = {r["vec_id"] for r in similarity.cosine_topk(
        df.where("vec_id != 0"), [float(x) for x in q], k=5).collect()}
    ann = {r["vec_id"] for r in similarity.ann_topk_lsh(
        df.where("vec_id != 0"), [float(x) for x in q], k=5,
        n_bits=5, probe_hamming=2).collect()}
    assert len(exact & ann) >= 3  # recall ≥ 0.6 with multi-probe on tiny data


def test_ivf_full_probe_equals_brute_force(spark, embeddings):
    # nprobe == n_centroids ⇒ every cell searched ⇒ IVF must equal the
    # exact brute-force top-k bit for bit (same rounding, same tie-break)
    df, base = embeddings
    q = [float(x) for x in base[0]]
    exact = similarity.cosine_topk(df.where("vec_id != 0"), q, k=5).collect()
    ivf = similarity.ivf_flat_topk(df.where("vec_id != 0"), q, k=5,
                                   n_centroids=8, nprobe=8).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in exact]


def test_ivf_partial_probe_recall_and_order(spark, embeddings):
    df, base = embeddings
    q = [float(x) for x in base[0]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(
        df.where("vec_id != 0"), q, k=5).collect()}
    got = similarity.ivf_flat_topk(df.where("vec_id != 0"), q, k=5,
                                   n_centroids=8, nprobe=3).collect()
    assert len(got) == 5
    cosines = [r["cosine"] for r in got]
    assert cosines == sorted(cosines, reverse=True)
    # Probing 3/8 random-pick cells on 40 random gaussian vectors gives weak
    # recall by construction (cells barely correlate with query proximity at
    # this size) — assert the probe set intersects the true top-k at all;
    # exactness is pinned by the full-probe test above.
    assert len(exact & {r["vec_id"] for r in got}) >= 1


def test_ivf_kmeans_codebook_improves_recall(spark):
    """Trained codebook (distributed spherical k-means, deterministic
    farthest-first init) must beat the first-N codebook on planted clusters
    where the N lowest-id vectors all sit in ONE cluster — the degenerate
    case the lowest-id codebook cannot cover."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 16)) * 5
    # intra-cluster noise large enough (σ=2) that the degenerate codebook's
    # assignment — driven by projections onto 8 near-identical cluster-0
    # perturbation directions — scatters each cluster across several cells,
    # while true cluster structure (center separation ≫ noise) stays crisp
    rows = []
    vid = 0
    for c in range(8):  # cluster-major ids: ids 0..39 are ALL cluster 0
        for _ in range(40):
            v = centers[c] + rng.standard_normal(16) * 2.0
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [[float(x) for x in centers[c] + rng.standard_normal(16) * 2.0]
               for c in (2, 4, 5, 6, 7)]  # held-out samples, one per cluster
    cb = similarity.kmeans_codebook(df, n_centroids=8, n_iters=4)

    def recall(q, codebook):
        exact = {r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()}
        got = {r["vec_id"] for r in similarity.ivf_flat_topk(
            df, q, k=10, n_centroids=8, nprobe=1, codebook=codebook).collect()}
        return len(exact & got) / 10

    r_naive = np.mean([recall(q, None) for q in queries])
    r_trained = np.mean([recall(q, cb) for q in queries])
    assert r_trained > r_naive, (r_trained, r_naive)
    assert r_trained >= 0.9  # one probed cell ≈ the planted cluster
    # determinism: retraining yields the identical codebook
    cb2 = similarity.kmeans_codebook(df, n_centroids=8, n_iters=4)
    assert all(np.array_equal(a[1], b[1]) for a, b in zip(cb, cb2))


def test_kmeans_training_slice_bounded(spark):
    """``n_train`` caps the training input to the deterministic lowest-id
    slice: training on the full table with ``n_train=16`` must yield the
    EXACT codebook of training on the first-16-id subset — i.e. rows outside
    the slice are provably never touched (init scans or Lloyd rounds)."""
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    head = spark.createDataFrame(rows[:16], "vec_id long, embedding array<float>")
    capped = similarity.kmeans_codebook(df, n_centroids=4, n_iters=3, n_train=16)
    slice_only = similarity.kmeans_codebook(head, n_centroids=4, n_iters=3,
                                            n_train=None)
    assert all(np.array_equal(a[1], b[1]) for a, b in zip(capped, slice_only))
    # and the uncapped path still differs (rows beyond the slice matter)
    full = similarity.kmeans_codebook(df, n_centroids=4, n_iters=3, n_train=None)
    assert not all(np.array_equal(a[1], b[1]) for a, b in zip(capped, full))


def test_embedding_near_dupes(spark, embeddings):
    df, _ = embeddings
    got = {(r["a"], r["b"]) for r in
           similarity.embedding_near_dupes(df, threshold=0.99, n_bits=6).collect()}
    assert (3, 7) in got


def test_text_operators_deterministic(spark, docs):
    tc = text.token_counts(docs).collect()
    assert all(r["ws_tokens"] > 0 for r in tc if r["doc_id"] < 100)
    q = text.quality_scores(docs).collect()
    assert all(0 <= r["stopword_ratio"] <= 1 for r in q)
    langs = text.language_id(spark.createDataFrame(
        [(1, "the cat and the dog of it is"), (2, "der hund ist nicht ein"),
         (3, "le chat est une pas"), (4, "xyzzy")],
        "doc_id long, text string")).collect()
    assert {r["doc_id"]: r["lang_pred"] for r in langs} == {1: "en", 2: "de", 3: "fr", 4: "unknown"}
    fp = text.fingerprints(docs)
    vals = {r["doc_id"]: r["fp64"] for r in fp.collect()}
    assert vals[3] == vals[100] == vals[101]
    assert vals[3] != vals[5]


@pytest.fixture(scope="module")
def images_df(spark):
    rows = []
    for i in range(8):
        rng = np.random.Generator(np.random.PCG64(i))
        img = rng.integers(0, 256, size=(32, 32, 3)).astype(np.uint8)
        fmt = "png" if i % 2 == 0 else "ppm"
        rows.append((f"img-{i}", bytearray(codec.encode(img, fmt)), 32, 32, fmt,
                     f"cap {i}", codec.average_hash(img)))
    # duplicate image under a new id → phash near-dup (hamming 0)
    rows.append(("img-dup", rows[0][1], 32, 32, "png", "cap dup", rows[0][6]))
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")


def test_image_features(spark, images_df):
    out = multimodal.image_features(images_df).collect()
    by_id = {r["image_id"]: r for r in out}
    assert len(out) == 9
    assert by_id["img-0"]["phash"] == by_id["img-dup"]["phash"]
    assert all(0 <= r["brightness"] <= 255 for r in out)


def test_image_resize(spark, images_df):
    out = multimodal.image_resize(images_df, 8, 8).collect()
    for r in out:
        img = codec.png_decode(bytes(r["bytes"]))
        assert img.shape == (8, 8, 3)


def test_phash_near_dupes(spark, images_df):
    pairs = multimodal.phash_near_dupes(images_df, max_hamming=0).collect()
    got = {frozenset((r["image_a"], r["image_b"])) for r in pairs}
    assert frozenset(("img-0", "img-dup")) in got


def test_audio_stub_plumbing(spark):
    rows = [("m1", (16000).to_bytes(4, "big") + b"xx"), ("m2", None)]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = {r["media_id"]: r for r in multimodal.audio_features(df).collect()}
    assert out["m1"]["feature_ok"] and abs(out["m1"]["duration_s"] - 1.0) < 1e-9
    assert not out["m2"]["feature_ok"]


def test_video_frame_sample_plumbing(spark):
    rng = np.random.Generator(np.random.PCG64(9))
    vid = rng.integers(0, 256, size=(25, 8, 12, 3)).astype(np.uint8)
    rows = [("v1", bytearray(multimodal.pack_video(vid))),
            ("v2", b"not-a-video"), ("v3", None)]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = multimodal.video_frame_sample(df, every_n=10).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], []).append(r)
    # 25 frames sampled every 10 → idx 0, 10, 20
    assert sorted(r["frame_idx"] for r in by["v1"]) == [0, 10, 20]
    fr0 = [r for r in by["v1"] if r["frame_idx"] == 10][0]
    assert (fr0["w"], fr0["h"]) == (12, 8)
    # PNG payload roundtrips to the exact raw frame (lossless codec)
    assert np.array_equal(codec.png_decode(bytes(fr0["png"])), vid[10])
    # poison pills isolate to one frame_ok=false row each
    assert [r["frame_ok"] for r in by["v2"]] == [False]
    assert [r["frame_ok"] for r in by["v3"]] == [False]
    mf = multimodal.video_frame_sample(df, every_n=10, max_frames=2).collect()
    assert sorted(r["frame_idx"] for r in mf if r["media_id"] == "v1") == [0, 10]


def test_ann_axis_full_probe_equals_brute_force(spark, embeddings):
    # probe_hamming == n_bits ⇒ no candidate pruned ⇒ identical to exact
    df, base = embeddings
    q = [float(x) for x in base[0]]
    exact = similarity.cosine_topk(df.where("vec_id != 0"), q, k=5).collect()
    got = similarity.ann_topk_axis(df.where("vec_id != 0"), q, k=5,
                                   dims=list(range(0, 16, 2)), n_bits=8,
                                   probe_hamming=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]


def test_ann_axis_partial_probe(spark, embeddings):
    df, base = embeddings
    q = [float(x) for x in base[0]]
    got = similarity.ann_topk_axis(df.where("vec_id != 0"), q, k=5,
                                   dims=list(range(0, 16, 2)), n_bits=8,
                                   probe_hamming=1).collect()
    cosines = [r["cosine"] for r in got]
    assert cosines == sorted(cosines, reverse=True)
    # every candidate really is within hamming 1 of the query signature
    qs = [1 if base[0][d] >= 0 else 0 for d in range(0, 16, 2)]
    vecs = {i: base[i] for i in range(1, 40)}
    for r in got:
        sig = [1 if vecs[r["vec_id"]][d] >= 0 else 0 for d in range(0, 16, 2)]
        assert sum(a != b for a, b in zip(sig, qs)) <= 1


def test_video_corrupt_container_is_poison_pill(spark):
    # valid magic but header inconsistent with body length: must yield a
    # frame_ok=false row, not a task-killing reshape error
    rng = np.random.Generator(np.random.PCG64(10))
    vid = rng.integers(0, 256, size=(5, 4, 4, 3)).astype(np.uint8)
    good = multimodal.pack_video(vid)
    truncated = good[: len(good) - 7]
    lying_header = good[:4] + (99).to_bytes(4, "big") + good[8:]
    rows = [("ok", bytearray(good)), ("trunc", bytearray(truncated)),
            ("lying", bytearray(lying_header))]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = multimodal.video_frame_sample(df, every_n=1).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], []).append(r["frame_ok"])
    assert all(by["ok"]) and len(by["ok"]) == 5
    assert by["trunc"] == [False]
    assert by["lying"] == [False]


def test_release_cached_registry(spark, docs):
    from simplecrawler_spark import pipeline as pl

    pl.release_cached()  # drain anything earlier tests left behind
    dedup.minhash_oph_pairs(docs, threshold=0.5).collect()
    n = pl.release_cached()
    assert n >= 1  # the gram-hash scan persist was registered and released
    assert pl.release_cached() == 0


def test_simhash_md5_single_evaluation_under_collapse(spark):
    """Guardrail for the round-4 CollapseProject regression: simhash_md5's
    bits/segs both derive from the per-document md5 vote aggregate. When segs
    referenced a `bits` column from a previous projection, Catalyst collapsed
    the projections and re-evaluated the full aggregate for every one of the
    64 element_at references (and again under posexplode's Generate) —
    measured 0.8 s → 190 s on the sf0.1 documents table. The fix binds the
    evaluated vote array to a lambda variable (single-element transform()
    let-binding) inside ONE expression, so later projection collapse cannot
    multiply evaluations.

    Two pins, both box-speed independent in spirit:
    (1) plan shape — the optimized plan of the exploded view must contain a
        bounded number of md5( occurrences (the let-binding keeps the packed
        expression whole; pre-fix the hazard was invisible at the logical
        level but the post-fix expression is collapse-proof BY SHAPE: one
        lambda binding per occurrence, never 64 substitutions);
    (2) a generous wall ceiling on the full pairs query over 500 docs —
        pre-fix this took ~20 s (65× re-evaluation), post-fix well under 3 s
        even cold; 15 s trips only on a real complexity regression."""
    import time

    from pyspark.sql import functions as F

    rows = [(i, f"tok{i % 7} common words " + " ".join(
        f"w{j}" for j in range(i % 11 + 3))) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fps = dedup.simhash_md5(docs, mode="word")
    exploded = fps.select(
        "doc_id", "bits", F.posexplode("segs").alias("seg_id", "seg_val"))
    # count Md5 expression NODES via the plan's JSON serialization (a full
    # tree walk) — toString() truncates long expression trees under
    # maxToStringFields, which could undercount and let a 64×-substitution
    # regression slip past the shape pin (ADVICE r4)
    plan_json = exploded._jdf.queryExecution().optimizedPlan().toJSON()
    n_md5 = plan_json.count("org.apache.spark.sql.catalyst.expressions.Md5")
    assert 1 <= n_md5 <= 4, n_md5

    t0 = time.time()
    pairs = dedup.simhash_md5_pairs(docs, max_hamming=3, mode="word")
    pairs.collect()
    wall = time.time() - t0
    assert wall < 15.0, f"simhash_md5_pairs took {wall:.1f}s on 500 docs"


def test_minhash_oph_arrow_verify_matches_jvm_join_path(spark, tmp_path, monkeypatch):
    """r6 optimization guardrail for the vectorized verify: on a file-backed
    corpus under the broadcast cap the verify runs as a numpy merge-intersect
    over a broadcast flat gram-set relation (MapInArrow in the plan); with
    the kill-switch it runs the JVM array_intersect join path. Both must
    produce byte-identical (a, b, jaccard) rows — the prune boundary and the
    half-length ratio band are exercised by the 2× length spread."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the hills ")
    rows = [(i, base + "tail " + "x y z w " * (i % 5)) for i in range(40)]
    rows += [(i, base[: len(base) // 2] + f" uniq{i}") for i in range(40, 55)]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(p)
    docs = spark.read.parquet(p)
    from simplecrawler_spark import pipeline as pl

    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW", "1")
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW_MIN_BYTES", "0")
    df_arrow = dedup.minhash_oph_pairs(docs, threshold=0.5)
    assert "MapInArrow" in df_arrow._jdf.queryExecution().executedPlan().toString()
    got_arrow = sorted(tuple(r) for r in df_arrow.collect())
    pl.release_cached()

    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW", "0")
    df_jvm = dedup.minhash_oph_pairs(docs, threshold=0.5)
    assert "MapInArrow" not in df_jvm._jdf.queryExecution().executedPlan().toString()
    got_jvm = sorted(tuple(r) for r in df_jvm.collect())
    pl.release_cached()

    assert len(got_arrow) > 0
    assert got_arrow == got_jvm


def test_minhash_oph_non_long_ids_take_jvm_path(spark, tmp_path, monkeypatch):
    """The arrow verify declares bigint doc ids in its worker schema; any
    other id type must keep the type-generic JVM join path (and still
    produce pairs) even when the size gates would otherwise select arrow."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the hills ")
    rows = [(f"doc-{i:03d}", base + "tail " + "x y z w " * (i % 5))
            for i in range(30)]
    p = str(tmp_path / "docs_str.parquet")
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(1).write.parquet(p)
    docs = spark.read.parquet(p)
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW", "1")
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW_MIN_BYTES", "0")
    df = dedup.minhash_oph_pairs(docs, threshold=0.5)
    assert "MapInArrow" not in df._jdf.queryExecution().executedPlan().toString()
    out = df.collect()
    from simplecrawler_spark import pipeline as pl
    pl.release_cached()
    assert len(out) > 0
    assert all(isinstance(r["a"], str) for r in out)


def test_minhash_oph_arrow_verify_ignores_null_ids(spark, tmp_path, monkeypatch):
    """A null doc id (which sorts first in the collected id column) must not
    disturb the arrow verify: it returns exactly the JVM path's pairs."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the hills ")
    rows = [(i, base + "tail " + "x y z w " * (i % 5)) for i in range(30)]
    rows.append((None, base + "tail "))
    p = str(tmp_path / "docs_null.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(p)
    docs = spark.read.parquet(p)
    from simplecrawler_spark import pipeline as pl

    monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW_MIN_BYTES", "0")
    got = {}
    for arrow in ("1", "0"):
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_ARROW", arrow)
        df = dedup.minhash_oph_pairs(docs, threshold=0.5)
        assert ("MapInArrow" in df._jdf.queryExecution().executedPlan().toString()) \
            == (arrow == "1")
        got[arrow] = sorted(tuple(r) for r in df.collect())
        pl.release_cached()
    assert len(got["1"]) > 0
    assert got["1"] == got["0"]


def test_minhash_oph_pair_local_verify_replays_reference(spark):
    """r6 optimization guardrail: the pair-LOCAL verify (per-doc gram-hash
    arrays + array_intersect + size-ratio prune) must reproduce the banded-
    LSH-then-exact-Jaccard semantics exactly. Replayed here in plain Python
    (same md5-60-bit gram hash, same OPH banding, same ROUND(j,6) ≥ t cut)
    on a template cluster with 2× length spread, so near-threshold pairs
    exercise both the prune boundary and the intersection counting."""
    import hashlib

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the hills ")
    rows = []
    for i in range(30):
        rows.append((i, base + "tail " + "x y z w " * (i % 5)))
    for i in range(30, 45):  # half-length docs: ratio-prune territory
        rows.append((i, base[: len(base) // 2] + f" uniq{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.minhash_oph_pairs(docs, threshold=0.5).collect()}

    def gram_hashes(s):
        t = s.lower()
        gs = {t[i:i + 5] for i in range(max(len(t) - 4, 1))}
        return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in gs}

    hs = {i: gram_hashes(s) for i, s in rows}
    bkeys = {}
    for i, h in hs.items():
        comps = {}
        for v in h:
            b = v % 64
            comps[b] = min(comps.get(b, v), v)
        for band in range(16):
            items = sorted((b, m) for b, m in comps.items() if b // 4 == band)
            if items:
                bkeys.setdefault(
                    (band, ",".join(f"{b}:{m}" for b, m in items)), set()).add(i)
    cand = set()
    for members in bkeys.values():
        for a in members:
            for b in members:
                if a < b:
                    cand.add((a, b))
    expect = {}
    for a, b in cand:
        inter = len(hs[a] & hs[b])
        j = round(inter / (len(hs[a]) + len(hs[b]) - inter), 6)
        if j >= 0.5:
            expect[(a, b)] = j
    assert got == expect


def test_simhash_md5_pairs_packed_hamming_matches_bits(spark):
    """r6 optimization guardrail: the packed-long popcount Hamming must equal
    the per-bit |a-b| sum over simhash_md5's bits arrays, and the pair set
    must be exactly {segment-colliding pairs with Hamming ≤ 3}."""
    rows = [(i, "shared template words here " + " ".join(
        f"tok{j}" for j in range(i % 4))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: (r["bits"], r["segs"])
           for r in dedup.simhash_md5(docs, mode="word").collect()}
    got = {(r["a"], r["b"]): r["hamming"]
           for r in dedup.simhash_md5_pairs(docs, max_hamming=3,
                                            mode="word").collect()}
    expect = {}
    ids = sorted(fps)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            bx, sx = fps[x]
            by, sy = fps[y]
            if not any(a == b for a, b in zip(sx, sy)):
                continue  # no pigeonhole segment collision -> not a candidate
            ham = sum(abs(a - b) for a, b in zip(bx, by))
            if ham <= 3:
                expect[(x, y)] = ham
    assert got == expect
