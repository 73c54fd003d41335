"""Tiered delta compaction (storage/compaction.py): bounded file counts over
long crawls, result-identical to the delta-only layout, transactional across
kill/resume (incl. resuming right after a compaction commit), and sidecar
rebuild from compacted levels. Round-2 verdict item #1."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.corpus import CorpusParams, write_corpus
from simplecrawler_spark.plans.crawl import CrawlEngine


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_compact"))
    write_corpus(spark, d, CorpusParams(n_urls=400, n_hosts=4, seed=47))
    return d


@pytest.fixture(scope="module")
def plain(spark, corpus, tmp_path_factory):
    """The uninterrupted delta-only crawl (compact_every=0): the reference
    that every compacted, interrupted or resumed run must reproduce. Module
    scoped: it is a 50+ round crawl, the suite's most expensive reference."""
    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")
    wh = str(tmp_path_factory.mktemp("compact_plain") / "wh_plain")
    res = CrawlEngine(spark, _cfg(wh, compact_every=0), web, robots=robots).run()
    return wh, res, _tables(spark, res)


def _cfg(wh, **kw):
    base = dict(seeds=["http://host0.example/p/0"], budget=8, dedupe_mode="tiered",
                seen_capacity=50_000, n_buckets=4, filter_by_domain=False,
                max_rounds=500, warehouse=wh)
    base.update(kw)
    return CrawlConfig(**base)


def _tables(spark, result):
    log = sorted((r["round_fetched"], r["seq"], r["url_norm"], r["status"]) for r in
                 result.fetched_log(spark)
                 .select("round_fetched", "seq", "url_norm", "status").collect())
    seen = sorted((r["url_hash"], r["seq"]) for r in result.url_seen(spark).collect())
    metrics = sorted((r["round"], r["event"], r["count"])
                     for r in result.metrics(spark).collect())
    return log, seen, metrics


def _dir_counts(wh):
    out = {}
    for t in ("seen", "fetched", "metrics"):
        names = os.listdir(os.path.join(wh, t))
        out[t] = {
            "rounds": sum(1 for n in names if re.fullmatch(r"round=\d+", n)),
            "levels": sum(1 for n in names if re.fullmatch(r"compact=\d+", n)),
        }
    return out


def test_long_crawl_bounded_files_and_identical_results(spark, corpus, plain, tmp_path):
    """≥50-round crawl: with compact_every=8/max_levels=2 the per-table dir
    count stays ≤ levels+K while the delta-only run accumulates one dir per
    round; results are byte-identical; major compactions provably ran."""
    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")
    plain_wh, plain_res, plain_tables = plain

    comp = CrawlEngine(spark, _cfg(str(tmp_path / "wh_comp"), compact_every=8,
                                   compact_max_levels=2), web, robots=robots).run()
    assert comp.rounds >= 50, f"corpus/budget drifted: only {comp.rounds} rounds"
    assert plain_tables == _tables(spark, comp)
    assert plain_res.events == comp.events

    counts = _dir_counts(str(tmp_path / "wh_comp"))
    for t, c in counts.items():
        assert c["levels"] <= 2, (t, c)
        assert c["rounds"] <= 8 + 1, (t, c)   # deltas since the last level
    plain_counts = _dir_counts(plain_wh)
    # zero-admission rounds write no seen delta, so allow a little slack
    assert plain_counts["seen"]["rounds"] > 40  # what compaction prevents

    # the manifest records the live level list; major compaction collapsed
    # earlier levels (≥ 6 compaction points over 50+ rounds, ≤ 2 levels kept)
    m = comp.warehouse.load_manifest(comp.rounds)
    assert 1 <= len(m["compacts"]["seen"]) <= 2
    # seen levels hold ONE parquet file per bucket
    for lv in m["compacts"]["seen"]:
        d = os.path.join(str(tmp_path / "wh_comp"), "seen", f"compact={lv}")
        for b in os.listdir(d):
            files = [f for f in os.listdir(os.path.join(d, b)) if f.endswith(".parquet")]
            assert len(files) == 1, (lv, b, files)


def test_kill_resume_across_compaction(spark, corpus, plain, tmp_path):
    """Stop exactly at a compaction commit, simulate crash debris (orphan
    round dirs, an unreferenced compact level, a tmp work dir, a destroyed
    sidecar), resume — final tables byte-identical to the uninterrupted
    delta-only run (compaction never changes a table, so that is also the
    uninterrupted run with this compaction config). Sidecar rebuild reads
    compacted data."""
    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")
    kw = dict(compact_every=6, compact_max_levels=2)
    want = plain[2]

    wh = str(tmp_path / "wh_cpart")
    CrawlEngine(spark, _cfg(wh, max_rounds=12, **kw), web, robots=robots).run()
    assert os.path.isdir(os.path.join(wh, "seen", "compact=11"))  # compacted at 6 and 12

    # crash debris: uncommitted round, unreferenced compact level, tmp dir
    for t in ("seen", "fetched"):
        os.makedirs(os.path.join(wh, t, "round=99"), exist_ok=True)
        open(os.path.join(wh, t, "round=99", "part-junk.parquet"), "w").write("junk")
    os.makedirs(os.path.join(wh, "seen", "compact=98", "bucket=0"), exist_ok=True)
    open(os.path.join(wh, "seen", "compact=98", "bucket=0", "part-0.parquet"), "w").write("junk")
    os.makedirs(os.path.join(wh, "seen", ".compact-99.tmp1"), exist_ok=True)
    scdir = os.path.join(wh, "sidecars")
    shutil.rmtree(os.path.join(scdir, os.listdir(scdir)[0]))

    resumed = CrawlEngine(spark, _cfg(wh, **kw), web, robots=robots).run(resume=True)
    assert not os.path.isdir(os.path.join(wh, "seen", "round=99"))
    assert not os.path.isdir(os.path.join(wh, "seen", "compact=98"))
    assert not os.path.isdir(os.path.join(wh, "seen", ".compact-99.tmp1"))
    assert _tables(spark, resumed) == want


def test_interrupted_cleanup_is_ignored_and_collected(spark, corpus, tmp_path):
    """Crash between manifest commit and input cleanup: stale consumed delta
    dirs must be IGNORED by readers (manifest-floored read set) and deleted
    on resume."""
    web = spark.read.parquet(f"{corpus}/web")
    wh = str(tmp_path / "wh_stale")
    res = CrawlEngine(spark, _cfg(wh, max_rounds=12, compact_every=6,
                                  compact_max_levels=2), web).run()
    want = _tables(spark, res)

    # resurrect a consumed delta with GARBAGE content — if any reader still
    # lists it, parquet parsing fails loudly; if the manifest floor works,
    # results are unchanged
    stale = os.path.join(wh, "seen", "round=3")
    os.makedirs(os.path.join(stale, "bucket=0"), exist_ok=True)
    open(os.path.join(stale, "bucket=0", "part-0.parquet"), "w").write("garbage")
    assert _tables(spark, res) == want

    # resume with the same round cap: a pure defrost (no new rounds) must
    # GC the stale dir and leave every table byte-identical
    resumed = CrawlEngine(spark, _cfg(wh, max_rounds=12, compact_every=6,
                                      compact_max_levels=2), web).run(resume=True)
    assert not os.path.isdir(stale)
    assert _tables(spark, resumed) == want


def test_compact_seen_multichunk_byte_identity(spark, tmp_path):
    """The streaming row-group writer must produce byte-identical level
    files regardless of Arrow batch chunking: a run with 64-row input
    batches (forcing many buffer flushes and row-group boundary crossings)
    equals the default-batch run bit for bit, and rows land seq-sorted."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from simplecrawler_spark.plans.crawl import SEEN_SCHEMA_V2
    from simplecrawler_spark.storage.compaction import _compact_seen
    from simplecrawler_spark.storage.snapshots import Warehouse

    def build(whdir):
        wh = Warehouse(whdir)
        df = spark.range(5000).select(
            F.col("id").alias("seq"),
            F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                     F.lit(".example/p/"), F.col("id").cast("string")).alias("url_norm"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
            F.lit(1).alias("depth"),
            F.lit(0).cast("long").alias("parent_seq"),
        )
        for rnd in range(3):
            (df.where(F.col("seq") % 3 == rnd)
             .withColumn("round_queued", F.lit(rnd))
             .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(4)).cast("int"))
             .write.partitionBy("bucket").parquet(wh.round_dir("seen", rnd)))
        layout = ([], [wh.round_dir("seen", r) for r in range(3)])
        return wh, layout

    outs = {}
    for tag, batch_rows in (("default", None), ("tiny", 64)):
        wh, layout = build(str(tmp_path / f"wh_{tag}"))
        if batch_rows:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           str(batch_rows))
        try:
            # row_group=256 << 5000/4 rows per bucket: multi-group files
            assert _compact_seen(spark, wh, 2, layout, SEEN_SCHEMA_V2, row_group=256)
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        d = wh.compact_dir("seen", 2)
        outs[tag] = {
            b: open(os.path.join(d, b, "part-0.parquet"), "rb").read()
            for b in sorted(os.listdir(d))
        }
    assert outs["default"].keys() == outs["tiny"].keys()
    assert len(outs["default"]) >= 3  # several buckets actually exercised
    for b in outs["default"]:
        assert outs["default"][b] == outs["tiny"][b], f"{b}: bytes differ"
    # content sanity on one file: all rows, sorted by seq, multi row group
    wh = Warehouse(str(tmp_path / "wh_default"))
    total = 0
    for b in outs["default"]:
        f = pq.ParquetFile(os.path.join(wh.compact_dir("seen", 2), b, "part-0.parquet"))
        assert f.metadata.num_row_groups >= 2, (b, f.metadata.num_row_groups)
        seqs = f.read(columns=["seq"]).column("seq").to_pylist()
        assert seqs == sorted(seqs)
        total += len(seqs)
    assert total == 5000
