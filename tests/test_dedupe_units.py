import os

import numpy as np

from simplecrawler_spark.operators import dedupe as dd


def _hashes(n, seed=0):
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_bloom_no_false_negatives_and_low_fpr():
    """No false negatives, and the false-pass rate at full load stays low —
    for a 10 bits/key filter and for the engine default of 16 bits/key, the
    Bloom's rate when it is the only filter in front of the exact probe."""
    h = _hashes(20_000, 1)
    other = _hashes(20_000, 2)
    for bits_per_key, max_fpr in ((10, 0.02), (16, 0.0015)):
        bloom_bytes, k, _ = dd.sidecar_params(len(h), 1, bits_per_key)
        bits = np.zeros(bloom_bytes, dtype=np.uint8)
        dd.bloom_add(bits, h, k)
        assert dd.bloom_check(bits, h, k).all()  # no false negatives, ever
        assert dd.bloom_check(bits, other, k).mean() < max_fpr


def test_sidecar_params_sane():
    bloom_bytes, k, nb = dd.sidecar_params(2_000_000, 32, 10)
    assert bloom_bytes * 8 >= (2_000_000 // 32) * 10
    assert k == 7
    assert nb == 0  # the retired cuckoo slot
    bloom_bytes, k, _ = dd.sidecar_params(2_000_000, 32, 16)
    assert bloom_bytes == 125_000 and k == 11


def test_sidecar_save_load_roundtrip(tmp_path):
    root = str(tmp_path)
    bits = np.arange(64, dtype=np.uint8)
    dd.save_bloom(root, 3, bits)
    assert np.array_equal(dd.load_bloom(root, 3, 64), bits)
    # a bucket with no sidecar yet loads as an empty Bloom
    assert not dd.load_bloom(root, 4, 64).any()
    assert os.listdir(os.path.join(root, "sidecars", "bucket=3")) == ["bloom.npy"]


def test_rebuild_sidecars_single_pass_undersized_capacity(spark, tmp_path):
    """rebuild_sidecars streams (bucket, url_hash) batches in one pass. An
    undersized seen_capacity does not grow or retry anything: the Bloom keeps
    its configured size, only saturates, and still passes every key."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    os.makedirs(root, exist_ok=True)
    n = 3000  # ~3× the capacity-1024 sizing
    seen = spark.range(n).select(
        F.lit(0).cast("int").alias("bucket"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    dd.rebuild_sidecars(spark, root, seen, n_buckets=1,
                        seen_capacity=1024, bits_per_key=12)
    bloom_bytes, k, _ = dd.sidecar_params(1024, 1, 12)
    bdir = os.path.join(root, "sidecars", "bucket=0")
    assert os.listdir(bdir) == ["bloom.npy"]
    bits = np.load(os.path.join(bdir, "bloom.npy"))
    assert len(bits) == bloom_bytes
    h = np.array([r["url_hash"] for r in seen.collect()], dtype=np.int64)
    assert dd.bloom_check(bits, h, k).all()
