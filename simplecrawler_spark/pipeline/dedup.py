"""Content deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard. Designed for the 100 TB regime: every candidate-pair generator is a
*blocked equi-join* (band hash / Hamming segment), never a cross join; the
heavy per-doc math (shingling, signatures) is one Arrow-batched pandas UDF
pass with pure numpy inside.

Shapes:
  * exact        — hash-groupBy, map-side combinable, one shuffle.
  * MinHash LSH  — shingle→64-bit hash→k permutations (a·h+b mod p, numpy
                   broadcast)→b bands; pairs from groupBy(band, band_hash);
                   optional exact-Jaccard verify on candidates only.
  * SimHash      — 64-bit sign-of-weighted-sum fingerprint; near-dup pairs
                   via 4-segment pigeonhole blocking (Hamming ≤ 3 ⇒ one
                   16-bit segment equal).
  * n-gram Jaccard — exact verify kernel (shared by the LSH verify step).
"""

from __future__ import annotations

import logging
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from simplecrawler_spark.pipeline import _persist

_MERSENNE = np.uint64((1 << 61) - 1)
_LOG = logging.getLogger(__name__)


def _scan_file_stats(df: DataFrame, max_files: int = 64) -> tuple[int, int] | None:
    """(total_bytes, total_rows) of a FILE-BACKED DataFrame's source files,
    from driver-side metadata only (paths + parquet footers) — no job, no
    plan execution. Returns None for non-file sources, remote filesystems,
    or when the file list is large enough that statting it isn't free."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    total_bytes = total_rows = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else (f[5:] if f.startswith("file:") else f)
        if not os.path.exists(p):
            return None
        total_bytes += os.path.getsize(p)
        if p.endswith(".parquet"):
            import pyarrow.parquet as pq

            try:
                total_rows += pq.ParquetFile(p).metadata.num_rows
            except Exception:
                return None
        else:
            return None
    return total_bytes, total_rows


def spread_small_input(df: DataFrame) -> DataFrame:
    """Small single-file tables arrive as ONE partition (a parquet row group
    is unsplittable), which serializes every downstream heavy scan onto one
    core. Repartition up to the session's parallelism when — and only when —
    the source files split into fewer partitions; at warehouse scale inputs
    already carry enough partitions and this is a no-op (no shuffle).

    The check is pure driver-side file metadata (``inputFiles`` + sizes) —
    touching ``df.rdd`` here would eagerly run upstream stages under AQE just
    to learn a partition count. Non-file inputs (in-memory test frames) pass
    through untouched: parallelize() already spreads them."""
    stats = _scan_file_stats(df)
    if stats is None:
        return df
    total_bytes, _ = stats
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    digits = raw.rstrip("kmgb")
    unit = raw[len(digits):].lstrip("0123456789")
    max_pb = int(digits or "134217728") * mult.get(unit[:1], 1)
    est_parts = max(1, -(-total_bytes // max_pb))
    if est_parts < p:
        return df.repartition(p)
    return df


def _uncompressed_input_bytes(df: DataFrame, max_files: int = 64) -> int | None:
    """Total UNCOMPRESSED bytes of a file-backed DataFrame's parquet source
    (sum of row-group ``total_byte_size`` footers) — driver-side metadata
    only, no job. None for non-file / non-parquet / large-file-list inputs.
    Used to size verify-side broadcast decisions (guide §3.1): the estimate
    must reflect in-memory row width, which compressed file size does not."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else (f[5:] if f.startswith("file:") else f)
        if not (p.endswith(".parquet") and os.path.exists(p)):
            return None
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(p).metadata
        except Exception:
            return None
        total += sum(md.row_group(i).total_byte_size
                     for i in range(md.num_row_groups))
    return total


# broadcast the per-doc verify relation (gram-hash sets / packed
# fingerprints) when its estimated in-memory size fits comfortably; above
# the cap the verify join falls back to the planner's shuffle strategy.
# Overridable for small-executor deployments (bytes).
_VERIFY_BROADCAST_CAP = int(os.environ.get(
    "SPARK_GRAFT_VERIFY_BROADCAST_CAP", str(512 << 20)))


def drop_hot_buckets(df: DataFrame, keys: list[str], cap: int, what: str) -> DataFrame:
    """Cap LSH bucket sizes — the thing that actually kills LSH jobs on real
    web corpora: one degenerate key (empty/boilerplate docs) turns a blocked
    equi-join quadratic (O(|bucket|²) pairs) or OOMs a single collect_set row.

    Keys with more than ``cap`` members are dropped from pair generation
    entirely (they are boilerplate, not near-duplicate signal) and the
    dropped mass is LOGGED — never a silent truncation. The count aggregation
    is map-side combinable (cheap); the hot-key set is tiny by construction
    (≤ |df|/cap keys) so the removal is a broadcast anti-join.

    Trivially small inputs skip the stats job entirely: every call site's
    bucket holds at most one row per source document, so when the source
    files' parquet footers bound the doc count at ≤ cap, no bucket can be
    hot — provable from driver-side metadata, zero Spark jobs."""
    if cap is None or cap <= 0:
        return df
    stats_meta = _scan_file_stats(df)
    if stats_meta is not None and stats_meta[1] <= cap:
        return df
    hot = (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > cap))
    stats = hot.agg(F.count(F.lit(1)).alias("k"),
                    F.sum("_n").alias("rows")).collect()[0]
    if stats["k"]:
        _LOG.warning(
            "%s: dropped %d hot bucket(s) above cap=%d (%d member rows) — "
            "degenerate/boilerplate-heavy keys excluded from pair generation",
            what, stats["k"], cap, stats["rows"])
        return df.join(F.broadcast(hot.select(*keys)), list(keys), "left_anti")
    return df


def exact_dupes(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedupe: md5(text) groups; keeper = min id (deterministic)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_hashes(s: str, n: int) -> np.ndarray:
    """Character n-gram set → 64-bit hashes (vectorized sliding window over
    the byte array; polynomial hash per window via matrix dot)."""
    b = np.frombuffer(s.lower().encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < n:
        b = np.pad(b, (0, n - len(b)), constant_values=32)
    win = np.lib.stride_tricks.sliding_window_view(b, n).astype(np.uint64)
    R = np.uint64(1099511628211)
    pw = np.full(n, R, dtype=np.uint64)
    pw[0] = 1
    with np.errstate(over="ignore"):
        pw = np.cumprod(pw)[::-1]
        h = (win * pw).sum(axis=1)
    return np.unique(h)


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 64, shingle: int = 5, seed: int = 42) -> DataFrame:
    """doc → array<long> MinHash signature. One mapInPandas pass; the k
    permutations apply as one (k × |shingles|) numpy broadcast per doc."""
    docs = spread_small_input(docs)
    rng = np.random.Generator(np.random.PCG64(seed))
    A = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    B = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)

    def sig(batches):
        for pdf in batches:
            out = np.zeros((len(pdf), num_perm), dtype=np.int64)
            texts = pdf[text_col].to_numpy()
            with np.errstate(over="ignore"):
                for i, s in enumerate(texts):
                    if s is None:
                        continue
                    h = _shingle_hashes(s, shingle)
                    vals = (A[:, None] * h[None, :] + B[:, None]) % _MERSENNE
                    out[i] = vals.min(axis=1).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf[id_col], "signature": list(out)})

    return docs.select(id_col, text_col).mapInPandas(
        sig, schema=f"doc_id long, signature array<long>")


def minhash_pairs(signatures: DataFrame, bands: int = 16,
                  max_bucket: int = 4096) -> DataFrame:
    """LSH banding: equal band-hash ⇒ candidate pair. The only shuffle is
    groupBy(band, band_hash) — linear in corpus size. Buckets larger than
    ``max_bucket`` are dropped (logged) before the collect_set — see
    :func:`drop_hot_buckets`."""
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        b * (F.size("signature") / bands).cast("int") + 1,
                        (F.size("signature") / bands).cast("int"),
                    ).cast("string")
                ),
            )
        ).alias("band", "band_hash"),
    )
    banded = drop_hot_buckets(banded, ["band", "band_hash"], max_bucket,
                              "minhash_pairs")
    grouped = banded.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    ).where(F.size("ids") > 1)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ids") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda j: F.struct(F.col("ids")[i].alias("a"), j.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b").distinct()
    return pairs


def jaccard_verify(pairs: DataFrame, docs: DataFrame, threshold: float = 0.7,
                   text_col: str = "text", id_col: str = "doc_id",
                   shingle: int = 5) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (post-LSH verify)."""
    d = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    joined = (
        pairs.join(d.withColumnRenamed("_id", "a").withColumnRenamed("_t", "ta"), "a")
        .join(d.withColumnRenamed("_id", "b").withColumnRenamed("_t", "tb"), "b")
    )

    def verify(batches):
        for pdf in batches:
            sims = np.zeros(len(pdf))
            for i in range(len(pdf)):
                ha = _shingle_hashes(pdf["ta"].iat[i] or "", shingle)
                hb = _shingle_hashes(pdf["tb"].iat[i] or "", shingle)
                inter = len(np.intersect1d(ha, hb, assume_unique=True))
                union = len(ha) + len(hb) - inter
                sims[i] = inter / union if union else 0.0
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"], "jaccard": sims})

    out = joined.mapInPandas(verify, schema="a long, b long, jaccard double")
    return out.where(F.col("jaccard") >= threshold)


def _grams_sql(text_col: str, n: int) -> str:
    """Distinct lowercase char n-grams as a Spark-SQL expression (built-ins
    only). Mirrors the DuckDB oracle's list_transform(range(...)) exactly:
    sequence(1, max(len-n+1, 1)) inclusive ≡ range(1, max(len-n+1,1)+1)."""
    t = f"lower(coalesce({text_col}, ''))"
    return (f"array_distinct(transform(sequence(1, greatest(length({t}) - {n - 1}, 1)), "
            f"i -> substring({t}, cast(i as int), {n})))")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 5,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_doc_freq: int = 10_000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by shared shingle —
    the SQL-expressible dedupe path (and the exactness baseline for the
    MinHash estimate): explode distinct grams, self-equi-join on the gram,
    |A∩B| = per-pair match count, |A∪B| = |A|+|B|-|A∩B|. Never a cross
    join: only docs sharing a gram ever meet.

    Grams occurring in more than ``max_doc_freq`` docs are stopword-like
    boilerplate that contributes O(df²) join rows — excluded from BLOCKING
    (both here and in the DuckDB oracle via the same HAVING), which can only
    lose pairs whose every shared gram is boilerplate."""
    docs = spread_small_input(docs)
    grams = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.expr(_grams_sql(text_col, n))).alias("g"))
    # shared by counts, the df-filter, and both join sides — persist so the
    # explode runs once (see minhash_oph_pairs note)
    grams = _persist(grams)
    counts = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    blocked = grams.join(
        grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_doc_freq).select("g"),
        "g", "left_anti")
    a = blocked.select(F.col("_id").alias("a"), "g")
    b = blocked.select(F.col("_id").alias("b"), "g")
    inter = (a.join(b, "g").where(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter")))
    out = (
        inter.join(counts.select(F.col("_id").alias("a"), F.col("n_grams").alias("na")), "a")
        .join(counts.select(F.col("_id").alias("b"), F.col("n_grams").alias("nb")), "b")
        .select("a", "b",
                F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6)
                .alias("jaccard"))
    )
    return out.where(F.col("jaccard") >= threshold)


def minhash_oph_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 5,
                      num_buckets: int = 64, rows_per_band: int = 4,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int = 4096) -> DataFrame:
    """MinHash near-dup pairs via **one-permutation hashing** (Li/Owen/Zhang
    2012) with md5 gram hashes — PURE Spark built-ins end to end, which makes
    the whole pipeline (a) whole-stage-codegen JVM work with a map-side
    combinable ``min`` as the only aggregation, and (b) bit-for-bit
    reproducible in DuckDB SQL, so the driver's value-hash oracle covers it
    (unlike the seeded-numpy k-permutation variant
    :func:`minhash_signatures`, whose xxhash-family gram hashing has no SQL
    twin and stays pytest-pinned).

    OPH replaces k permutations with ONE hash per gram: bucket = h mod
    ``num_buckets``; signature component j = min hash landing in bucket j.
    Empty buckets (short docs) are simply absent — the band key encodes
    (bucket:minhash) pairs sorted by bucket, so two docs agree on a band iff
    they agree on exactly which buckets are filled and with what minima,
    deterministically in both engines.

    Scale shape: explode(distinct grams) → md5 → groupBy(doc, bucket) min —
    linear in corpus text volume, one shuffle keyed by (doc, bucket), then
    the LSH band equi-join (hot buckets capped via
    :func:`drop_hot_buckets`). Candidates get an exact distinct-gram Jaccard
    verify (gram equi-join restricted to candidate pairs only)."""
    bands = num_buckets // rows_per_band
    # the gram explode + md5 is the expensive linear scan, and it feeds TWO
    # consumers (the signature aggregation and the per-doc verify-set
    # aggregation) — Spark has no cross-branch subtree dedup, so without a
    # persist each consumer recomputes it (measured ~6× the work at sf0.1).
    # Persist the HASHED form: gram identity is carried by the 60-bit md5
    # prefix everywhere (signature, counts, verify sets), so the cache holds
    # two bigints per row instead of a string and md5 runs exactly once per
    # gram. Both engines derive h identically, so results match bit-for-bit
    # even under (2^-60) prefix collisions. MEMORY_AND_DISK: spills, never
    # OOMs at scale.
    docs = spread_small_input(docs)
    grams = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.expr(_grams_sql(text_col, n))).alias("g"))
    hashed = grams.select(
        "_id",
        F.expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)").alias("h"))
    hashed = _persist(hashed)
    comps = (hashed.groupBy("_id", (F.col("h") % num_buckets).alias("bkt"))
             .agg(F.min("h").alias("mh")))
    keys = (comps.withColumn("band", F.expr(f"bkt div {rows_per_band}"))
            .groupBy("_id", "band")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("bkt", "mh"))),
                            lambda s: F.concat_ws(":", s["bkt"], s["mh"])),
                ",").alias("bkey")))
    # persisted: consumed by the hot-bucket stats job, the anti-join, and
    # both sides of the band self-join
    keys = drop_hot_buckets(_persist(keys), ["band", "bkey"], max_bucket,
                            "minhash_oph_pairs")
    ka = keys.select(F.col("_id").alias("a"), "band", "bkey")
    kb = keys.select(F.col("_id").alias("b"), "band", "bkey")
    cand = (ka.join(kb, ["band", "bkey"]).where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    # --- exact distinct-gram Jaccard on candidates only, PAIR-LOCAL ---
    # Each doc's gram-hash set is aggregated ONCE into a sorted array; the
    # candidate stream attaches both arrays (broadcast-hash when the doc
    # relation provably fits — guide §3.1 — else the planner's strategy) and
    # computes |A∩B| with one JVM array_intersect per pair. The previous
    # shape joined candidates back to the GRAM-LEVEL relation, materializing
    # |cand| × |grams/doc| intermediate rows through two wide exchanges —
    # 5.7e9 rows / 600+ s at the 50k-doc sf1.0 table, and the unbounded
    # concurrent pair-sort spill of VERDICT r5 "What's wrong" #2. This shape
    # never holds more than |cand| rows and shuffles nothing when the sets
    # relation broadcasts. (array_intersect treats the per-doc hash multiset
    # as a set — identical to the join-count for any corpus with no
    # within-document 60-bit md5-prefix collision, P(collision) ≈ 2.5e-14
    # per doc; verified result-hash-identical against the join shape at
    # sf0.001/0.01/0.1/1.0.)
    est = _uncompressed_input_bytes(docs)
    # per-doc array bytes ≈ 8 B per gram ≈ 8 × text chars (distinct 5-grams
    # of an L-char doc number ≤ L-4); ×2 slack for array/row overhead
    bcast = est is not None and est * 16 <= _VERIFY_BROADCAST_CAP
    # vectorized verify (guide §4.2): when the per-doc hash-set relation fits
    # the broadcast cap anyway, numpy merge-intersects beat per-pair JVM
    # array_intersect (which rebuilds a hash set of BOTH arrays for every one
    # of a doc's ~hundreds of candidate pairs) — measured ~9 µs/pair vs
    # ~44 µs/pair in-stage on the 20.3M-pair 10× cell. Its fixed cost (one
    # driver collect + a python broadcast + the worker pool) only amortizes
    # when the corpus — and with it the candidate volume — is large, so tiny
    # inputs keep the sub-second JVM join (floor env-tunable; both paths are
    # result-identical, the gate is purely a cost model).
    arrow_floor = int(os.environ.get(
        "SPARK_GRAFT_VERIFY_ARROW_MIN_BYTES", str(4 << 20)))
    # the arrow path's worker schema declares bigint doc ids; any other
    # id_col type (the API allows strings etc.) keeps the type-generic JVM
    # join path
    from pyspark.sql.types import LongType

    id_is_long = isinstance(hashed.schema["_id"].dataType, LongType)
    if (bcast and id_is_long and est >= arrow_floor
            and os.environ.get("SPARK_GRAFT_VERIFY_ARROW", "1") != "0"):
        return _verify_pairs_arrow(cand, hashed, float(threshold))
    sets = _persist(hashed.groupBy("_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count(F.lit(1)).alias("ng")))
    sa = sets.select(F.col("_id").alias("a"), F.col("hs").alias("ha"),
                     F.col("ng").alias("na"))
    sb = sets.select(F.col("_id").alias("b"), F.col("hs").alias("hb"),
                     F.col("ng").alias("nb"))
    if bcast:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    # size-ratio prune before the per-pair intersection: J ≤ min(na,nb)/
    # max(na,nb), and round(J,6) ≥ t requires J ≥ t − 5e-7, so pairs with
    # min/max < t − 1e-6 (slack absorbs the double division ulp) can never
    # be reported — prune drops no output row, only wasted intersections.
    ratio_ok = (F.least("na", "nb").cast("double") / F.greatest("na", "nb")
                >= F.lit(float(threshold) - 1e-6))
    # let-bind the intersection size so the jaccard expression evaluates
    # array_intersect once per pair (same guard as simhash_md5's let-binding
    # — an inline alias would be re-substituted by CollapseProject)
    jac = F.expr(
        "transform(array(size(array_intersect(ha, hb))), i -> "
        "round(i / cast(na + nb - i as double), 6))[0]")
    return (cand.join(sa, "a").join(sb, "b")
            .where(ratio_ok)
            .select("a", "b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def _verify_pairs_arrow(cand: DataFrame, hashed: DataFrame,
                        threshold: float) -> DataFrame:
    """Exact distinct-gram Jaccard verify for candidate pairs, vectorized
    (guide §4.2 "hand whole batches to native libraries"): the per-doc
    gram-hash sets are collected ONCE into flat numpy arrays (ids / counts /
    offsets / values — the same ≤ cap-gated volume the JVM broadcast held),
    shipped to the Python workers as one broadcast, and each Arrow batch of
    (a, b) pairs is pruned + merge-intersected in numpy. Only the small
    (a, b, |A∩B|, |A|, |B|) rows return; the jaccard division and ROUND run
    in the SAME JVM expression as the join path, so rounding semantics are
    bit-identical (Python's round is half-even, Spark's HALF_UP — never mix).

    Equivalence with the JVM ``size(array_intersect(ha, hb))`` path:
    the flat values are per-doc sorted + DEDUPLICATED via
    ``sort_array(collect_set(h))`` (array_intersect treats the per-doc
    multiset as a set), counts stay the raw distinct-gram counts
    (``count(1)``, including theoretical within-doc hash dups), the
    size-ratio prune uses the identical ``min/max ≥ t − 1e-6`` double
    comparison, and ``np.intersect1d(assume_unique=True)`` over the sorted
    unique slices counts exactly |A∩B|. Any doc id reaching a candidate
    pair but absent from the sets relation raises (loud, never a silent
    wrong count).

    Lifecycle/laziness: building the relation runs one job + a driver
    collect at CONSTRUCTION time (like the operator's hot-bucket stats job
    — the bench's v3 protocol times construction for exactly this reason);
    the collect transits the driver result channel
    (``spark.driver.maxResultSize``) bounded by the broadcast cap. The
    broadcast is registered with the pipeline cache registry, so
    ``release_cached()`` frees the executor copies like every persisted
    relation."""
    from simplecrawler_spark.pipeline import _PERSISTED

    spark = cand.sparkSession
    # orderBy + collect_set: ids arrive sorted and slices arrive sorted +
    # deduped straight from the JVM — no driver-side argsort/gather/dedupe.
    # Null ids never reach a candidate pair (the band join's a < b drops
    # them), and one would sort first and turn the collected ids into
    # NaN-led float64, breaking the sorted order searchsorted relies on.
    agg = (hashed.where(F.col("_id").isNotNull()).groupBy("_id").agg(
               F.sort_array(F.collect_set("h")).alias("hs"),
               F.count(F.lit(1)).alias("ng"))
           .orderBy("_id"))
    tbl = agg.toArrow()
    ids = tbl.column("_id").to_numpy()
    ngs = tbl.column("ng").to_numpy()
    hs = tbl.column("hs").combine_chunks()
    lens = np.asarray(hs.value_lengths(), dtype=np.int64)
    flat = hs.flatten().to_numpy()
    if ids.size == 0:
        return spark.createDataFrame([], "a long, b long, jaccard double")
    offs = np.zeros(ids.size + 1, dtype=np.int64)
    offs[1:] = np.cumsum(lens)
    bc = spark.sparkContext.broadcast((ids, ngs, offs, flat))
    # release_cached() calls .unpersist() on registry entries — Broadcast
    # exposes the same method, so the flat relation shares the persisted
    # DataFrames' lifecycle (re-execution after release re-ships it from
    # the driver file; destroy() would break re-execution instead)
    _PERSISTED.append(bc)
    t_eff = float(threshold) - 1e-6

    def verify(batches):
        import pyarrow as pa

        b_ids, b_ngs, b_offs, b_flat = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            a = b.column(0).to_numpy()
            bb = b.column(1).to_numpy()
            ia = np.minimum(np.searchsorted(b_ids, a), b_ids.size - 1)
            ib = np.minimum(np.searchsorted(b_ids, bb), b_ids.size - 1)
            if not ((b_ids[ia] == a).all() and (b_ids[ib] == bb).all()):
                raise RuntimeError(
                    "minhash verify: candidate doc id missing from the "
                    "gram-set relation")
            na = b_ngs[ia]
            nb = b_ngs[ib]
            # size-ratio prune — same double comparison as the join path
            ok = np.minimum(na, nb) / np.maximum(na, nb) >= t_eff
            ka, kb = ia[ok], ib[ok]
            inter = np.empty(ka.size, dtype=np.int64)
            for i in range(ka.size):
                x, y = ka[i], kb[i]
                inter[i] = np.intersect1d(
                    b_flat[b_offs[x]:b_offs[x + 1]],
                    b_flat[b_offs[y]:b_offs[y + 1]],
                    assume_unique=True).size
            yield pa.RecordBatch.from_arrays(
                [pa.array(a[ok]), pa.array(bb[ok]), pa.array(inter),
                 pa.array(na[ok]), pa.array(nb[ok])],
                ["a", "b", "inter", "na", "nb"])

    ver = cand.mapInArrow(verify, "a long, b long, inter long, na long, nb long")
    # identical division + ROUND expression to the join path (HALF_UP)
    jac = F.expr("round(inter / cast(na + nb - inter as double), 6)")
    return (ver.select("a", "b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def fingerprint_md5(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit whole-document fingerprint from md5(lower(text)) — the
    oracle-checkable twin of the rolling-hash fingerprint (md5 hex agrees
    byte-for-byte between Spark and DuckDB; 15 hex digits keep the value
    inside a signed 64-bit int)."""
    fp = F.expr(
        f"cast(conv(substring(md5(lower(coalesce({text_col}, ''))), 1, 15), 16, 10) as bigint)")
    return docs.select(F.col(id_col), fp.alias("fp64"))


def _words_sql(text_col: str) -> str:
    """Distinct lowercase whitespace tokens as a Spark-SQL expression.
    Mirrors DuckDB's ``string_split_regex(trim(lower(...)), '\\s+')``:
    trimming first means no boundary empties; the all-whitespace/empty doc
    degenerates to the single '' token in BOTH engines."""
    t = f"trim(lower(coalesce({text_col}, '')))"
    return f"array_distinct(split({t}, '\\\\s+'))"


def simhash_md5(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                shingle: int = 5, mode: str = "char") -> DataFrame:
    """SimHash over md5 gram hashes — PURE Spark built-ins (no UDF, stays in
    whole-stage codegen) and bit-for-bit reproducible in ANSI-ish SQL, so the
    DuckDB oracle can verify the full pipeline. Bit j of gram g = bit
    (3 - j%4) of hex digit j//4 of md5(g); simhash bit j = 1 iff the ±1 votes
    over distinct grams sum positive. Returns (doc_id, bits array<int>,
    posexploded 16-bit segment values for pigeonhole blocking).

    ``mode``: ``"char"`` votes over distinct char ``shingle``-grams (layout
    sensitivity — near-dup detection for templated pages); ``"word"`` votes
    over distinct whitespace tokens (bag-of-words robustness to reordering —
    the family Manku/Jain/Das Sarma 2007 ran at web scale). Word mode hashes
    ~``shingle``× fewer grams per doc, so it is also the cheaper scan."""
    docs = spread_small_input(docs)
    grams = _words_sql(text_col) if mode == "word" else _grams_sql(text_col, shingle)
    # per-gram ±1 vote vector: parse each hex digit ONCE (16 substring+conv
    # string parses) and expand it to its 4 bit votes inside a lambda (`nb`
    # is a real lambda binding, so the conv is never re-substituted per
    # bit). The previous shape ran substring+conv per BIT — 64 string
    # parses per gram, 4× this one's — and the vote scan is the linear
    # full-corpus cost of both simhash pair operators (guide §1.2 step 2).
    # Integer arithmetic, bit order identical (digit i covers bits
    # 4(i-1)..4(i-1)+3, high bit first), so votes/bits/segs — and the
    # DuckDB oracle replay — are unchanged.
    gbits = ("flatten(transform("
             "transform(sequence(1, 16), i -> "
             "cast(conv(substring(hx, cast(i as int), 1), 16, 10) as int)), "
             "nb -> array(2 * (shiftright(nb, 3) & 1) - 1, "
             "2 * (shiftright(nb, 2) & 1) - 1, "
             "2 * (shiftright(nb, 1) & 1) - 1, 2 * (nb & 1) - 1)))")
    votes = (f"aggregate(transform({grams}, gr -> md5(gr)), "
             f"array_repeat(0, 64), (acc, hx) -> zip_with(acc, {gbits}, (x, y) -> x + y))")
    # LET-BINDING, load-bearing for performance: bits and segs both derive
    # from `votes` (the expensive whole-document md5 vote aggregate). If segs
    # referenced a `bits` COLUMN from a previous projection, Catalyst's
    # CollapseProject would substitute the full votes expression into every
    # one of segs' 64 element_at(bits, ...) references (and, under a
    # downstream posexplode, into the Generate as well) — measured ~65×
    # re-evaluation: 0.8 s → 190 s on the sf0.1 documents table. Binding the
    # evaluated array to a lambda variable via a single-element transform()
    # keeps ONE evaluation per row no matter how later projections collapse.
    bits_of = "transform(v, x -> case when x > 0 then 1 else 0 end)"
    segs_of = ("transform(sequence(0, 3), s -> aggregate(sequence(0, 15), 0L, "
               "(acc, k) -> acc + cast(case when element_at(v, cast(s * 16 + k as int) + 1) > 0 "
               "then 1 else 0 end as bigint) * cast(pow(2, k) as bigint)))")
    packed = (f"transform(array({votes}), v -> "
              f"named_struct('bits', {bits_of}, 'segs', {segs_of}))[0]")
    return (docs.select(F.col(id_col), F.expr(packed).alias("_p"))
            .select(id_col, F.col("_p.bits").alias("bits"),
                    F.col("_p.segs").alias("segs")))


def simhash_md5_pairs(docs: DataFrame, max_hamming: int = 3, shingle: int = 5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int = 4096, mode: str = "char") -> DataFrame:
    """Near-dup pairs from :func:`simhash_md5` via the same 4×16-bit
    pigeonhole blocking as :func:`simhash_pairs`. For hamming ≤ 3 the
    pigeonhole guarantee makes blocking LOSSLESS (≥1 segment must be equal),
    so this equals the brute-force O(n²) scan the DuckDB oracle runs —
    an exactly-verifiable LSH path. ``mode`` as in :func:`simhash_md5`."""
    # persist the fingerprint relation BEFORE deriving the exploded view:
    # the InMemoryRelation is a materialization barrier, so CollapseProject
    # cannot substitute the vote aggregate into the posexplode/Generate
    # (belt to simhash_md5's let-binding braces — each guards the other)
    fps = _persist(simhash_md5(docs, text_col, id_col, shingle, mode=mode))
    # exploded view carries ONLY (doc_id, seg_id, seg_val): the old shape
    # dragged the 64-int `bits` array through the persist, the hot-bucket
    # stats job and BOTH sides of the self-join (~0.5 KB/row on every
    # exchange), then ran an interpreted zip_with/aggregate Hamming fold per
    # JOINED row before de-duplicating — 145 s at the sf1.0 driver table.
    seg = fps.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode("segs").alias("seg_id", "seg_val"))
    seg = drop_hot_buckets(_persist(seg), ["seg_id", "seg_val"], max_bucket,
                           "simhash_md5_pairs")
    a = seg.select(F.col("doc_id").alias("a"), "seg_id", "seg_val")
    b = seg.select(F.col("doc_id").alias("b"), "seg_id", "seg_val")
    cand = (a.join(b, ["seg_id", "seg_val"]).where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
    # pack the 64 bits into ONE long per doc (bit j of the fingerprint →
    # bit j of the long): pair-level Hamming = bit_count(xor) — two longs
    # per pair instead of two 64-int arrays, whole-stage codegen instead of
    # an interpreted fold. Σ|bits_a[j] − bits_b[j]| ≡ popcount(pa ⊕ pb)
    # exactly (bits ∈ {0,1}), so the output is unchanged; dedup happens on
    # the narrow (a, b) pairs BEFORE the fingerprints are attached.
    packed = fps.select(
        F.col(id_col).alias("doc_id"),
        F.expr("aggregate(sequence(0, 63), 0L, (acc, j) -> acc + "
               "shiftleft(cast(element_at(bits, cast(j as int) + 1) as bigint),"
               " cast(j as int)))").alias("pb"))
    stats = _scan_file_stats(docs)
    # 16 B/doc packed rows: broadcast unless the doc count is unknown or
    # huge (≥ 2^25 docs ≈ 0.5 GB with row overhead — guide §3.1 cap)
    bcast = stats is not None and stats[1] <= (1 << 25)
    pa = packed.select(F.col("doc_id").alias("a"), F.col("pb").alias("pa"))
    pb = packed.select(F.col("doc_id").alias("b"), F.col("pb").alias("pbv"))
    if bcast:
        pa, pb = F.broadcast(pa), F.broadcast(pb)
    return (cand.join(pa, "a").join(pb, "b")
            .select("a", "b",
                    F.bit_count(F.col("pa").bitwiseXOR(F.col("pbv")))
                    .cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                         shingle: int = 4) -> DataFrame:
    """64-bit SimHash: sign of per-bit weighted sums of shingle hashes."""

    docs = spread_small_input(docs)

    def fp(batches):
        bitpos = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, s in enumerate(pdf[text_col].to_numpy()):
                if not s:
                    continue
                h = _shingle_hashes(s, shingle)
                bits = ((h[:, None] >> bitpos[None, :]) & np.uint64(1)).astype(np.int64)
                v = (2 * bits - 1).sum(axis=0)
                out[i] = np.uint64(((v > 0).astype(np.uint64) << bitpos).sum()).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf[id_col], "simhash": out})

    return docs.select(id_col, text_col).mapInPandas(fp, schema="doc_id long, simhash long")


def simhash_pairs(fps: DataFrame, max_hamming: int = 3,
                  max_bucket: int = 4096) -> DataFrame:
    """Pigeonhole blocking: split 64 bits into 4 segments — Hamming ≤ 3 ⇒ at
    least one 16-bit segment identical ⇒ equi-join per segment, then exact
    Hamming filter via bit_count(xor). No cross join. Segment values shared
    by more than ``max_bucket`` docs self-join quadratically — dropped
    (logged); a true near-dup pair inside a dropped segment still has three
    other pigeonhole segments to collide on."""
    seg = fps.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", s * 16).bitwiseAND(F.lit(0xFFFF))
            for s in range(4)
        ])).alias("seg_id", "seg_val"),
    )
    seg = drop_hot_buckets(_persist(seg), ["seg_id", "seg_val"], max_bucket,
                           "simhash_pairs")
    a = seg.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "seg_id", "seg_val")
    b = seg.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "seg_id", "seg_val")
    cand = a.join(b, ["seg_id", "seg_val"]).where(F.col("a") < F.col("b"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.select("a", "b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming).distinct())
