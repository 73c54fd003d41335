"""Per-layer replays for the traced crawl run.

Each replay calls only public engine functions, on inputs recorded from the
traced crawl, against a copy of its warehouse — never the warehouse the
correctness digests were taken from. Every replay runs under its own span
and Spark job group, so its time and stage metrics are the layer's.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import harness

# ---- storage accounting during the traced crawl ----
def storage_snapshot(root: str) -> dict[str, int]:
    """{file path: size} of every data file under the warehouse."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith("."):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def table_of(root: str, path: str) -> str:
    return os.path.relpath(path, root).split(os.sep)[0]


def record_writes(tracer, root: str, before: dict, rnd: int) -> dict:
    """Files that appeared (or changed size) in round ``rnd``, per table."""
    after = storage_snapshot(root)
    per: dict[str, list[int]] = {}
    for p, size in after.items():
        if before.get(p) != size:
            t = table_of(root, p)
            per.setdefault(t, [0, 0])
            per[t][0] += 1
            per[t][1] += size
    for t, (n, b) in sorted(per.items()):
        tracer.add(f"storage.files.{t}", n, "count", f"round={rnd}")
        tracer.add(f"storage.bytes_written.{t}", b, "bytes", f"round={rnd}")
    return after


# ---- inputs recorded from the traced crawl ----
def round_pages(wl, eng, rnd: int):
    """Corpus rows (url, links, body, encoding, content type) of the pages
    the crawl downloaded in round ``rnd``."""
    import pyarrow.parquet as pq

    from perfbench.frontier import read_columns

    fetched = read_columns(eng.wh.data_paths("fetched", eng.wh.latest_round()),
                           ["url_norm", "status", "round_fetched"])
    urls = {u for u, s, r in zip(fetched["url_norm"], fetched["status"],
                                 fetched["round_fetched"]) if r == rnd and s == "downloaded"}
    web = pq.read_table(os.path.join(wl.corpus, "web"),
                        columns=["url_norm", "links", "body", "content_encoding",
                                 "content_type"]).to_pandas()
    return web[web["url_norm"].isin(urls)].reset_index(drop=True)


def copy_warehouse(eng) -> str:
    dst = harness.scratch_dir("replay_wh_")
    shutil.rmtree(dst)
    shutil.copytree(eng.wh.root, dst)
    return dst


def _rate(tracer, name: str, n: int, fn) -> None:
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    tracer.add(f"functions.{name}_rows_per_s", n / dt if dt > 0 else 0.0, "rows/s")


def functions_replay(tracer, pages, cfg) -> dict:
    """Pandas functions of link discovery on one recorded round's pages."""
    import pandas as pd

    from simplecrawler_spark.functions.body import decode_series, decompress_series
    from simplecrawler_spark.functions.canonicalize import canonicalize_series
    from simplecrawler_spark.functions.links import clean_expand_series, discover_resources

    links = pages["links"].map(lambda x: list(x) if x is not None else [])
    base = pages["url_norm"]
    n_links = int(links.map(len).sum())
    out = {}
    with tracer.span("functions.clean_expand"):
        _rate(tracer, "clean_expand", n_links,
              lambda: out.setdefault("clean", clean_expand_series(links, base)))
    flat = pd.Series([u for l in links for u in l], dtype=object)
    flat_base = pd.Series(np.repeat(base.to_numpy(), links.map(len).to_numpy()), dtype=object)
    with tracer.span("functions.canonicalize"):
        _rate(tracer, "canonicalize", len(flat), lambda: canonicalize_series(flat, flat_base))
    bodies, _ = decompress_series(pages["body"], pages["content_encoding"])
    with tracer.span("functions.decode"):
        _rate(tracer, "decode", len(bodies),
              lambda: out.setdefault("texts", decode_series(bodies, pages["content_type"])))
    texts = [t for t in out["texts"] if t]
    with tracer.span("functions.discover"):
        _rate(tracer, "discover", len(texts), lambda: [discover_resources(t) for t in texts])
    return out


def candidates_df(spark, pages, cleaned, rnd: int, seq_of: dict):
    """The candidate rows discovery produced in round ``rnd`` (one per
    cleaned link of each downloaded page), shaped as admission expects."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    for url, links in zip(pages["url_norm"], cleaned):
        for i, u in enumerate(links):
            rows.append((seq_of.get(url, -1), i + 1, u, None, url))
    pdf = pd.DataFrame(rows, columns=["parent_seq", "link_idx", "url_norm", "depth", "referrer"])
    df = spark.createDataFrame(pdf, "parent_seq long, link_idx int, url_norm string, "
                                    "depth int, referrer string")
    return (df.withColumn("depth", F.lit(rnd + 1).cast("int"))
            .withColumn("host", F.regexp_extract("url_norm", r"^[a-z]+://([^/]+)", 1))
            .withColumn("url_hash", F.xxhash64("url_norm")))


def frontier_replays(wl, spark, rep: dict) -> None:
    """All crawl-layer replays for one traced crawl repetition."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.operators import dedupe as dd
    from simplecrawler_spark.operators.admission import admit, robots_rules_simple
    from simplecrawler_spark.plans.crawl import QUEUED_COLS_V2, SEEN_SCHEMA_V2, CrawlEngine
    from simplecrawler_spark.storage.compaction import plan_and_compact, read_warehouse_table
    from simplecrawler_spark.storage.snapshots import Warehouse

    tr = wl.tracer
    eng, rounds = rep["engine"], rep["rounds"]
    cfg = eng.cfg
    rnd = max(1, rounds - 1)   # the last round's children all fail the depth gate
    tr.add("replay.round", rnd, "round")

    # functions.*: link cleanup, canonicalisation, body decode, discovery
    pages = round_pages(wl, eng, rnd)
    fn = functions_replay(tr, pages, cfg)

    # operators.admission on the round's recorded candidates
    seen_rows = read_warehouse_table(spark, eng.wh, "seen", rounds, SEEN_SCHEMA_V2)
    seq_of = {r["url_norm"]: r["seq"] for r in seen_rows.select("url_norm", "seq").collect()}
    cands = candidates_df(spark, pages, fn["clean"], rnd, seq_of).persist()
    n_in = cands.count()
    with tr.span("operators.admission.admit", group="replay:admission") as sp:
        simple = eng.robots is None or robots_rules_simple(eng.robots)
        gated = admit(cands, eng.robots, cfg, eng.seed_hosts, robots_simple=simple)
        n_out = gated.where(F.col("reject").isNull()).count()
    tr.add("admission.admit_s", sp["end"] - sp["start"], "s")
    tr.add("admission.in_rows", n_in, "count")
    tr.add("admission.out_rows", n_out, "count")
    tr.add("admission.admitted_frac", n_out / n_in if n_in else 0.0, "ratio")
    admitted = gated.where(F.col("reject").isNull()).select("url_norm", "url_hash").distinct()
    cand = admitted.toPandas()

    # operators.dedupe: replay the tiers on the round's candidate hashes
    # against sidecars rebuilt to the state before the round
    wh_copy = copy_warehouse(eng)
    before = seen_rows.where(F.col("round_queued") < rnd)
    with tr.span("operators.dedupe.rebuild_sidecars", group="replay:rebuild") as sp:
        dd.rebuild_sidecars(spark, wh_copy, before, cfg.n_buckets, cfg.seen_capacity,
                            cfg.bloom_bits_per_key)
    bloom_bytes, k, nb = dd.sidecar_params(cfg.seen_capacity, cfg.n_buckets, cfg.bloom_bits_per_key)
    seen_before = {r["url_norm"]: r["url_hash"] for r in before.select("url_norm", "url_hash").collect()}
    hash_set = set(seen_before.values())
    buckets = spark.createDataFrame(cand).transform(lambda d: dd.with_bucket(d, cfg.n_buckets)) \
        .select("url_norm", "url_hash", "bucket").toPandas()
    t_bloom = t_cuckoo = 0.0
    bloom_pass = cuckoo_pass = probe_rows = probe_files = confirmed = 0
    for b, part in buckets.groupby("bucket"):
        bits, table = dd.load_sidecars(wh_copy, int(b), bloom_bytes, nb)
        h = part["url_hash"].to_numpy()
        t0 = time.perf_counter()
        maybe = dd.bloom_check(bits, h, k)
        t_bloom += time.perf_counter() - t0
        bloom_pass += int(maybe.sum())
        t0 = time.perf_counter()
        maybe2 = dd.cuckoo_check(table, h[maybe]) if maybe.any() else maybe[:0]
        t_cuckoo += time.perf_counter() - t0
        cuckoo_pass += int(maybe2.sum())
        probe_rows += sum(x in hash_set for x in h[maybe][maybe2])
        if maybe2.any():   # the probe opens every seen file of the bucket
            probe_files += sum(
                len([f for f in os.listdir(d) if f.endswith(".parquet")])
                for d in (os.path.join(p, f"bucket={int(b)}")
                          for p in eng.wh.data_paths("seen", rounds)) if os.path.isdir(d))
        confirmed += sum(u in seen_before for u in part["url_norm"])
    n = len(buckets)
    truly_new = n - confirmed
    tr.add("dedupe.candidates", n, "count")
    tr.add("dedupe.bloom_pass", bloom_pass, "count")
    tr.add("dedupe.cuckoo_pass", cuckoo_pass, "count")
    tr.add("dedupe.exact_probe_rows", probe_rows, "count")
    tr.add("dedupe.exact_probe_files", probe_files, "count")
    tr.add("dedupe.confirmed_dups", confirmed, "count")
    tr.add("dedupe.new", truly_new, "count")
    tr.add("dedupe.new_frac", truly_new / n if n else 0.0, "ratio")
    tr.add("dedupe.bloom_false_pass_frac",
           (bloom_pass - confirmed) / truly_new if truly_new else 0.0, "ratio")
    tr.add("dedupe.cuckoo_false_pass_frac",
           (cuckoo_pass - confirmed) / truly_new if truly_new else 0.0, "ratio")
    tr.add("dedupe.bloom_check_ns_per_key", t_bloom / n * 1e9 if n else 0.0, "ns")
    tr.add("dedupe.cuckoo_check_ns_per_key", t_cuckoo / max(bloom_pass, 1) * 1e9, "ns")
    new_rows = seen_rows.where(F.col("round_queued") == rnd) \
        .select(*QUEUED_COLS_V2, "round_queued")
    with tr.span("operators.dedupe.register_new", group="replay:register") as sp:
        dd.register_new(new_rows, wh_copy, os.path.join(wh_copy, "seen", f"round={rounds + 1}"),
                        cfg.n_buckets, cfg.seen_capacity, cfg.bloom_bits_per_key)
    tr.add("dedupe.register_new_s", sp["end"] - sp["start"], "s")
    with tr.span("operators.dedupe.rebuild_sidecars", group="replay:rebuild_all") as sp:
        dd.rebuild_sidecars(spark, wh_copy, seen_rows, cfg.n_buckets, cfg.seen_capacity,
                            cfg.bloom_bits_per_key)
    tr.add("dedupe.rebuild_sidecars_s", sp["end"] - sp["start"], "s")
    tr.add("dedupe.sidecar_bytes", sum(os.path.getsize(os.path.join(d, f))
                                       for d, _, fs in os.walk(os.path.join(wh_copy, "sidecars"))
                                       for f in fs), "bytes")
    shutil.rmtree(wh_copy, ignore_errors=True)

    # operators.fetch: the fetch join + classify, and payload verify, on the
    # batch the crawl fetched in the replay round (table mode: the web table)
    if not wl.http:
        from simplecrawler_spark.operators.fetch import classify, fetch_batch, verify_payloads

        batch = seen_rows.where(F.col("round_queued") == rnd - 1).persist()
        n_batch = batch.count()
        with tr.span("operators.fetch.fetch_batch", group="replay:fetch") as sp:
            classify(fetch_batch(batch, eng.web, batch_rows=n_batch), cfg) \
                .write.format("noop").mode("overwrite").save()
        tr.add("fetch.join_s", sp["end"] - sp["start"], "s")
        fetched = read_warehouse_table(spark, eng.wh, "fetched", rounds)
        dl = fetched.where((F.col("status") == "downloaded") & (F.col("round_fetched") == rnd))
        with tr.span("operators.fetch.verify_payloads", group="replay:verify") as sp:
            verify_payloads(dl, eng.images, eng.corpus_params) \
                .write.format("noop").mode("overwrite").save()
        tr.add("fetch.verify_payloads_s", sp["end"] - sp["start"], "s")
        ids = [r[0] for r in dl.where(F.col("image_id").isNotNull()).select("image_id").collect()]
        imgs = eng.images.where(F.col("image_id").isin(ids)) \
            .agg(F.sum(F.length("bytes")).alias("b")).collect()[0]["b"] or 0
        tr.add("fetch.payload_bytes", int(imgs), "bytes")
        http_replay(wl, spark, batch)
        batch.unpersist()

    # storage: manifest chain, commit, orphan sweep, compaction on a copy
    wh_copy = copy_warehouse(eng)
    w = Warehouse(wh_copy)
    with tr.span("storage.snapshots.lineage"):
        chain = w.lineage(rounds)
    tr.add("storage.lineage_s", tr.spans[-1]["end"] - tr.spans[-1]["start"], "s")
    with tr.span("storage.snapshots.commit"):
        w.commit(rounds + 1, dict(chain[-1]))
    tr.add("storage.commit_s", tr.spans[-1]["end"] - tr.spans[-1]["start"], "s")
    plant_orphans(w, rounds)
    with tr.span("storage.snapshots.drop_orphans"):
        dropped = w.drop_orphans(rounds)
    tr.add("storage.drop_orphans_s", tr.spans[-1]["end"] - tr.spans[-1]["start"], "s")
    tr.add("storage.orphans_dropped", len(dropped), "count")
    size0 = sum(storage_snapshot(wh_copy).values())
    with tr.span("storage.compaction.plan_and_compact", group="replay:compact") as sp:
        plan_and_compact(spark, w, rounds + 1, dict(chain[-1].get("compacts", {})),
                         cfg.compact_max_levels, SEEN_SCHEMA_V2)
    tr.add("storage.compaction_s", sp["end"] - sp["start"], "s")
    tr.add("storage.compaction_bytes_rewritten",
           sum(storage_snapshot(wh_copy).values()) - size0, "bytes")
    shutil.rmtree(wh_copy, ignore_errors=True)

    # plans.crawl resume path: a copy of the warehouse left as a crash in
    # the middle of the next round would leave it — orphan deltas in every
    # seen bucket and no sidecar files — so the rebuild covers every bucket
    wh_copy = copy_warehouse(eng)
    w = Warehouse(wh_copy)
    plant_orphans(w, rounds)
    shutil.rmtree(os.path.join(wh_copy, "sidecars"), ignore_errors=True)
    cfg2 = wl.config(wh_copy)
    eng2 = CrawlEngine(spark, cfg2, wl.web, wl.images, wl.robots, corpus_params=wl.p)
    with tr.span("plans.crawl.resume_state", group="replay:resume") as sp:
        eng2.resume_state()
    tr.add("resume_s", sp["end"] - sp["start"], "s")
    shutil.rmtree(wh_copy, ignore_errors=True)


def http_replay(wl, spark, batch) -> None:
    """operators.http_fetch on a table-mode crawl: the recorded batch
    fetched over HTTP from a mirror of the same corpus, then classified."""
    import dataclasses

    from pyspark.sql import functions as F

    from simplecrawler_spark.operators.fetch import build_request_headers, classify, http_fetch

    tr = wl.tracer
    wl.start_mirror()
    try:
        cfg = dataclasses.replace(
            wl.config(harness.TMP), fetch_mode="http", use_proxy=True,
            proxy_hostname="127.0.0.1", proxy_port=wl.port,
            http_threads_per_task=1, fetch_timeout_ms=30_000.0)
        req = build_request_headers(batch.withColumn("referrer", F.lit(None).cast("string")), cfg)
        with tr.span("operators.http_fetch.http_fetch", group="replay:http"):
            rows = classify(http_fetch(req, cfg, extra_cols=["body", "content_encoding"]), cfg) \
                .select("request_latency_ms", "failure").collect()
    finally:
        wl.stop_mirror()
    from perfbench import layers
    layers.http_metrics(wl, tr, {"request_latency_ms": [r[0] for r in rows],
                                 "failure": [r[1] for r in rows]})


def plant_orphans(w, rounds: int) -> None:
    """Crash debris of round ``rounds + 1``: a partial seen delta holding a
    file in every bucket, and a partial fetched delta."""
    for t in ("seen", "fetched"):
        src = [p for p in w.data_paths(t, rounds) if os.path.isdir(p)]
        dst = w.round_dir(t, rounds + 1)
        os.makedirs(dst, exist_ok=True)
        for p in src:
            for d, _, files in os.walk(p):
                rel = os.path.relpath(d, p)
                for f in files:
                    if f.endswith(".parquet"):
                        os.makedirs(os.path.join(dst, rel), exist_ok=True)
                        shutil.copy(os.path.join(d, f), os.path.join(dst, rel, f))
