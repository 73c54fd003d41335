"""S4/S5 resume semantics: a crawl interrupted between rounds, resumed from
the last committed manifest, must produce byte-identical final tables —
including dropping orphan (uncommitted) round dirs and rebuilding Bloom
sidecars (SURVEY.md §3.3; north_rule resumability clause)."""

from __future__ import annotations

import os
import shutil

import pytest

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.corpus import CorpusParams, write_corpus
from simplecrawler_spark.plans.crawl import CrawlEngine


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_resume"))
    write_corpus(spark, d, CorpusParams(n_urls=400, n_hosts=4, seed=43))
    return d


def _cfg(wh, **kw):
    base = dict(seeds=["http://host0.example/p/0"], budget=48, dedupe_mode="tiered",
                seen_capacity=50_000, n_buckets=4, filter_by_domain=False,
                max_rounds=500, warehouse=wh)
    base.update(kw)
    return CrawlConfig(**base)


def _tables(spark, result):
    log = [(r["round_fetched"], r["seq"], r["url_norm"], r["status"]) for r in
           result.fetched_log(spark).select("round_fetched", "seq", "url_norm", "status").collect()]
    seen = {(r["url_hash"], r["seq"]) for r in result.url_seen(spark).collect()}
    return sorted(log), seen


@pytest.fixture(scope="module")
def reference(spark, corpus, tmp_path_factory):
    """Tables of the uninterrupted crawl every resumed run must reproduce."""
    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")
    wh = str(tmp_path_factory.mktemp("resume_ref") / "wh_full")
    return _tables(spark, CrawlEngine(spark, _cfg(wh), web, robots=robots).run())


def test_kill_and_resume_identical(spark, corpus, reference, tmp_path, monkeypatch):
    from simplecrawler_spark.operators import dedupe as dd

    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")
    want = reference

    # interrupted: stop after 3 rounds ("kill"), then resume to completion
    eng1 = CrawlEngine(spark, _cfg(str(tmp_path / "wh_part"), max_rounds=3), web, robots=robots)
    eng1.run()
    # simulate a crash mid-round-4: orphan uncommitted delta dirs (the seen
    # orphan carries a bucket subdir — a crashed register_new's footprint)
    wh_root = str(tmp_path / "wh_part")
    for t, sub in (("seen", "bucket=2"), ("fetched", "")):
        d = os.path.join(wh_root, t, "round=99", sub)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-junk.parquet"), "w") as f:
            f.write("garbage")
    # poison a sidecar to prove resume rebuilds it from committed data
    scdir = os.path.join(wh_root, "sidecars")
    assert os.path.isdir(scdir) and os.listdir(scdir)
    poisoned = sorted(os.listdir(scdir))[0]
    shutil.rmtree(os.path.join(scdir, poisoned))
    poisoned_b = int(poisoned.split("=")[1])

    # spy: the rebuild must be SCOPED to exactly the crash-touched orphan
    # bucket plus the missing one — never a full O(corpus) rescan
    calls = []
    orig = dd.rebuild_sidecars

    def spy(*a, **kw):
        calls.append(kw.get("buckets"))
        return orig(*a, **kw)

    monkeypatch.setattr(dd, "rebuild_sidecars", spy)
    eng2 = CrawlEngine(spark, _cfg(wh_root), web, robots=robots)
    resumed = eng2.run(resume=True)
    assert not os.path.isdir(os.path.join(wh_root, "seen", "round=99"))
    assert calls == [sorted({2, poisoned_b})]
    got = _tables(spark, resumed)
    assert got == want


def test_clean_resume_runs_zero_rebuild_jobs(spark, corpus, reference, tmp_path, monkeypatch):
    """A resume from a clean shutdown (manifest committed, no orphans, all
    sidecars present) must not rebuild ANY sidecar — at the design point the
    unconditional rebuild was a full seen-table scan per resume. The
    continuation must still be byte-identical to an uninterrupted crawl."""
    from simplecrawler_spark.operators import dedupe as dd

    web = spark.read.parquet(f"{corpus}/web")
    robots = spark.read.parquet(f"{corpus}/robots")

    wh_root = str(tmp_path / "wh_clean")
    CrawlEngine(spark, _cfg(wh_root, max_rounds=3), web, robots=robots).run()

    def forbid(*a, **kw):
        raise AssertionError("sidecar rebuild ran on a clean resume")

    monkeypatch.setattr(dd, "rebuild_sidecars", forbid)
    eng2 = CrawlEngine(spark, _cfg(wh_root), web, robots=robots)
    resumed = eng2.run(resume=True)
    assert _tables(spark, resumed) == reference


def test_resume_refuses_v1_inline_referrer_warehouse(spark, tmp_path, monkeypatch):
    """A warehouse whose seen deltas store ``referrer`` inline (the retired
    v1 layout) is refused with one ValueError, read from the data, before
    resume drops or rebuilds anything. Hand-written warehouse, no crawl."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simplecrawler_spark.storage.snapshots import Warehouse

    wh = Warehouse(str(tmp_path / "wh_v1"))
    # manifests never recorded the layout once v1 was retired: no key here
    with open(os.path.join(wh.root, "manifests", "manifest-0.json"), "w") as f:
        json.dump({"round": 0, "parent": None, "next_seq": 1, "watermark": 0,
                   "queued": 1, "seed_hosts": ["host0.example"],
                   "compacts": {}}, f)
    seen = os.path.join(wh.round_dir("seen", 0), "bucket=0")
    os.makedirs(seen)
    pq.write_table(pa.table({
        "seq": [0], "url_norm": ["http://host0.example/p/0"],
        "url_hash": [7], "host": ["host0.example"], "depth": [0],
        "referrer": pa.array([None], pa.string()), "parent_seq": [-1],
        "round_queued": [0]}), os.path.join(seen, "part-00000.parquet"))
    orphan = wh.round_dir("fetched", 1)  # uncommitted: drop_orphans' prey
    os.makedirs(orphan)

    dropped = []
    monkeypatch.setattr(Warehouse, "drop_orphans",
                        lambda self, rnd: dropped.append(rnd))
    eng = CrawlEngine(spark, _cfg(wh.root), None)
    with pytest.raises(ValueError, match="v1 delta layout"):
        eng.resume_state()
    assert dropped == [] and os.path.isdir(orphan)


def test_lineage_chain_intact(spark, corpus, tmp_path):
    web = spark.read.parquet(f"{corpus}/web")
    res = CrawlEngine(spark, _cfg(str(tmp_path / "wh_lin"), max_rounds=4), web).run()
    chain = res.warehouse.lineage(res.rounds)
    assert [m["round"] for m in chain] == list(range(res.rounds + 1))
    assert chain[0]["parent"] is None
    for prev, cur in zip(chain, chain[1:]):
        assert cur["parent"] == prev["round"]
        assert cur["next_seq"] >= prev["next_seq"]


def test_metrics_table_written(spark, corpus, tmp_path):
    web = spark.read.parquet(f"{corpus}/web")
    res = CrawlEngine(spark, _cfg(str(tmp_path / "wh_m"), max_rounds=3), web).run()
    m = res.metrics(spark)
    rows = {(r["round"], r["event"]): r["count"] for r in m.collect()}
    assert any(k[1] == "queueadd" for k in rows)
    assert any(k[1] == "fetchcomplete" for k in rows)
