"""Crawl workloads: ``frontier_table`` (BSP crawl against the corpus table)
and ``frontier_http`` (the same crawl shape over real HTTP against a
loopback mirror of the corpus).

A timed repetition is one crawl from the seed list to fixpoint in a fresh
warehouse. Its outputs are checked against the single-threaded reference
simulator in ``tests/oracle.py``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

from perfbench import harness

N_URLS = 4000
N_HOSTS = 8
N_SEEDS = 256         # spread over the hosts: round sizes repeat across seeds
MAX_DEPTH = 2         # fixpoint after exactly two rounds
BUDGET = 8192         # bench.py's per-round budget
N_BUCKETS = 8
COMPACT_EVERY = 2     # compaction runs inside the four rounds
FRAC_IMAGE = 0.08

FETCHED_COLS = ["seq", "url_norm", "depth", "status", "event", "status_code",
                "round_fetched"]


def seed_urls() -> list[str]:
    from simplecrawler_spark.corpus import host_name

    return [f"http://{host_name(i % N_HOSTS)}/p/{i // N_HOSTS}" for i in range(N_SEEDS)]


def read_columns(dirs: list[str], cols: list[str]) -> dict[str, list]:
    """Columns of every parquet file under ``dirs``, concatenated."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {c: [] for c in cols}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet") and not f.startswith("."):
                    t = pq.ParquetFile(os.path.join(root, f)).read(columns=cols)
                    for c in cols:
                        out[c] += t.column(c).to_pylist()
    return out


class Frontier:
    aqe = False   # bench.py's crawl cell runs with AQE off

    def __init__(self, mode: str, seed: int, cores: int, tracer):
        from simplecrawler_spark.corpus import CorpusParams

        self.mode, self.seed, self.cores, self.tracer = mode, seed, cores, tracer
        self.http = mode == "http"
        self.p = CorpusParams(n_urls=N_URLS, n_hosts=N_HOSTS, seed=seed,
                              frac_image=FRAC_IMAGE, with_cookies=self.http)
        self.corpus = os.path.join(
            harness.CACHE, f"corpus-{N_URLS}-{N_HOSTS}-{seed}-{'c' if self.http else 't'}")
        self.server = None
        self.port = None
        self.server_stats: dict | None = None

    # ---- inputs and set-up ----
    def prepare(self, spark) -> None:
        """Generate the seeded corpus once per seed (kept between runs)."""
        from simplecrawler_spark.corpus import write_corpus

        if not os.path.exists(os.path.join(self.corpus, "_DONE")):
            shutil.rmtree(self.corpus, ignore_errors=True)
            write_corpus(spark, self.corpus, self.p)
            open(os.path.join(self.corpus, "_DONE"), "w").close()

    def register(self, spark) -> None:
        from simplecrawler_spark.corpus import read_web

        if self.http:
            self.web = self.images = self.robots = None
            return
        self.web = read_web(spark, self.corpus)
        self.images = spark.read.parquet(os.path.join(self.corpus, "images"))
        self.robots = spark.read.parquet(os.path.join(self.corpus, "robots"))

    def start_services(self) -> None:
        if self.http:
            self.start_mirror()

    def stop_services(self) -> None:
        if self.server is not None:
            self.stop_mirror()

    def start_mirror(self) -> None:
        """Serve this workload's corpus from a mirror process (see mirror.py)."""
        ready = os.path.join(harness.TMP, f"mirror-{os.getpid()}.port")
        self.stats_path = os.path.join(harness.TMP, f"mirror-{os.getpid()}.json")
        for f in (ready, self.stats_path):
            if os.path.exists(f):
                os.remove(f)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(harness.ROOT, "perfbench", "mirror.py"),
             "--corpus", self.corpus, "--threads", str(self.cores),
             "--ready", ready, "--stats", self.stats_path])
        deadline = time.time() + 60
        while not os.path.exists(ready):
            if self.server.poll() is not None or time.time() > deadline:
                self.server.kill()
                self.server.wait()
                self.server = None
                raise RuntimeError("mirror server did not start")
            time.sleep(0.01)
        with open(ready) as f:
            self.port = int(f.read())

    def stop_mirror(self) -> None:
        import json

        self.server.send_signal(signal.SIGTERM)
        self.server.wait(timeout=60)
        self.server = None
        with open(self.stats_path) as f:
            self.server_stats = json.load(f)

    def config(self, wh: str):
        from simplecrawler_spark.config import CrawlConfig

        kw = dict(seeds=seed_urls(), budget=BUDGET, filter_by_domain=False,
                  dedupe_mode="tiered", seen_capacity=max(N_URLS * 2, 200_000),
                  n_buckets=N_BUCKETS, shuffle_partitions=self.cores,
                  warehouse=wh, max_rounds=200, max_depth=MAX_DEPTH,
                  compact_every=COMPACT_EVERY)
        if self.http:
            # at most nproc connections: one request thread per task, nproc tasks
            kw.update(fetch_mode="http", discovery_mode="html", robots_mode="lazy",
                      accept_cookies=True, use_proxy=True,
                      proxy_hostname="127.0.0.1", proxy_port=self.port,
                      http_threads_per_task=1, fetch_timeout_ms=30_000.0)
        return CrawlConfig(**kw)

    # ---- the timed work ----
    def crawl(self, spark, rep: int) -> dict:
        from simplecrawler_spark.plans.crawl import CrawlEngine

        wh = harness.scratch_dir("wh_")
        cfg = self.config(wh)
        tr = self.tracer
        t0 = time.perf_counter()
        eng = CrawlEngine(spark, cfg, self.web, self.images, self.robots,
                          corpus_params=self.p)
        if tr.enabled:
            rounds = self._stepped(eng, rep)
        else:
            rounds = eng.run().rounds
        wall = time.perf_counter() - t0
        urls = sum(m.get("batch", 0) for m in eng.wh.lineage(rounds))
        return {"wh": wh, "engine": eng, "rounds": rounds, "urls": urls, "wall": wall}

    def _stepped(self, eng, rep: int) -> int:
        """Traced crawl: one ``run_rounds(n_rounds=1)`` call per round, each
        under its own job group, with a storage snapshot after each."""
        from perfbench import replay

        tr = self.tracer
        with tr.span("plans.crawl.seed", group=f"c{rep}:r0"):
            n, _ = eng.seed()
        state = (0, n, 0, n)
        files = replay.storage_snapshot(eng.wh.root)
        while state[3] > 0 and state[0] < eng.cfg.max_rounds:
            r = state[0] + 1
            with tr.span("plans.crawl.round", group=f"c{rep}:r{r}") as sp:
                state = eng.run_rounds(*state, n_rounds=1)
            sp["round"] = r
            files = replay.record_writes(tr, eng.wh.root, files, r)
        return state[0]

    def run(self, spark, seconds: float, min_reps: int) -> list[dict]:
        return harness.repeat_for(seconds, lambda rep: self.crawl(spark, rep), min_reps)

    # ---- checks ----
    def engine_rows(self, rep: dict):
        """The crawl's fetched log and url_seen, read from its warehouse.
        The referrer is the parent row's url_norm, as ``fetched_log()``
        derives it."""
        wh, rounds = rep["engine"].wh, rep["rounds"]
        extra = ["parent_seq", "hdr_cookie"] if self.http else []
        f = read_columns(wh.data_paths("fetched", rounds), FETCHED_COLS + extra)
        fetched = list(zip(*(f[c] for c in FETCHED_COLS)))
        if self.http:
            url_of = dict(zip(f["seq"], f["url_norm"]))
            fetched = [r + (url_of.get(p), c)
                       for r, p, c in zip(fetched, f["parent_seq"], f["hdr_cookie"])]
        seen: dict[str, int] = {}
        s = read_columns(wh.data_paths("seen", rounds), ["url_norm", "seq"])
        for u, q in zip(s["url_norm"], s["seq"]):
            seen[u] = min(q, seen.get(u, q))
        return sorted(fetched, key=lambda t: t[0]), seen

    def oracle_rows(self, cfg, fetched_urls: list[str]):
        """Reference crawl of the same inputs: for table mode the corpus,
        for http mode the rows the mirror serves (404 for URLs outside the
        corpus, robots rules parsed from the served robots.txt bodies)."""
        import pyarrow.parquet as pq

        from tests.oracle import OracleCrawler

        class Recording(OracleCrawler):
            def _classify(self, item):
                status, event, row = super()._classify(item)
                item["_out"] = (event, None if row is None else row["status_code"])
                return status, event, row

        if self.http:
            from simplecrawler_spark.functions.canonicalize import split_host
            from simplecrawler_spark.functions.robots import parse_robots_txt
            from perfbench import mirror

            site = mirror.load_site(self.corpus)
            web = [mirror.mirrored_row(u, split_host(u), r) for u, r in site.items()
                   if not u.endswith("/robots.txt")]
            web += [mirror.mirrored_row(u, split_host(u), mirror.NOT_FOUND)
                    for u in set(fetched_urls) - set(site)]
            robots = []
            for r in pq.read_table(os.path.join(self.corpus, "robots_txt")).to_pylist():
                d, a, cd = parse_robots_txt(r["body"], cfg.user_agent)
                robots.append({"host": r["host"], "disallow": d, "allow": a, "crawl_delay": cd})
        else:
            web = pq.read_table(os.path.join(self.corpus, "web")).to_pylist()
            robots = pq.read_table(os.path.join(self.corpus, "robots")).to_pylist()
        oc = Recording(web, robots, cfg)
        res = oc.run()
        rows = []
        for rnd, seq, url, depth, status in res.fetched_log:
            item = oc.queue[seq]
            row = (seq, url, depth, status, *item["_out"], rnd)
            if self.http:
                row += (item["referrer"], res.cookie_hdrs.get(seq))
            rows.append(row)
        return sorted(rows, key=lambda t: t[0]), res.seen

    def check(self, reps: list[dict]) -> tuple[int, int, dict]:
        """(attempted, failed, info). Every repetition's outputs must equal
        the reference crawl's; on http, transport failures also count."""
        failed, info = 0, {}
        want = None
        for rep in reps:
            fetched, seen = self.engine_rows(rep)
            if want is None:
                want = self.oracle_rows(rep["engine"].cfg, [r[1] for r in fetched])
            ok = (fetched, seen) == want
            if not ok:
                diff = next(((a, b) for a, b in zip(fetched, want[0]) if a != b), None)
                info["mismatch"] = f"{len(fetched)} vs {len(want[0])} rows; first diff {diff}"
            failed += not ok
        attempted = len(reps)
        if self.http:
            n_fail, n_req = self.transport_failures(reps[-1])
            attempted += n_req
            failed += n_fail
            info["transport_failures"] = n_fail
        return attempted, failed, info

    def transport_failures(self, rep: dict) -> tuple[int, int]:
        wh = rep["engine"].wh
        col = read_columns(wh.data_paths("fetched", rep["rounds"]), ["failure"])["failure"]
        return sum(x is not None for x in col), len(col)

    # ---- metrics ----
    def discover_to_fetch(self, rep: dict) -> list[float]:
        """Per fetched URL: commit time of the round that fetched it minus
        commit time of the round that queued it (from the warehouse)."""
        wh = rep["engine"].wh
        committed = {m["round"]: m["committed_at"] for m in wh.lineage(rep["rounds"])}
        t = read_columns(wh.data_paths("fetched", rep["rounds"]),
                         ["round_queued", "round_fetched"])
        return [committed[f] - committed[q]
                for q, f in zip(t["round_queued"], t["round_fetched"])]

    def end_to_end(self, reps: list[dict]) -> tuple[dict, dict]:
        d2f = [x for rep in reps for x in self.discover_to_fetch(rep)]
        walls = [r["wall"] for r in reps]
        ups = [r["urls"] / r["wall"] for r in reps]
        metrics = {"work_s": harness.median(walls), "throughput": harness.median(ups)}
        named = {   # the same figures under their workload-specific names
            "urls_per_s": (metrics["throughput"], "URL/s"),
            "discover_to_fetch_p50_s": (harness.percentile(d2f, 50), "s"),
            "discover_to_fetch_p99_s": (harness.percentile(d2f, 99), "s"),
            "crawl_s": (metrics["work_s"], "s"),
        }
        info = {"repetitions": len(reps), "rounds": reps[-1]["rounds"],
                "urls_fetched": reps[-1]["urls"], "latency_samples": len(d2f)}
        return metrics, {"named": named, **info}

    def cleanup(self, reps: list[dict]) -> None:
        for r in reps:
            shutil.rmtree(r["wh"], ignore_errors=True)
