"""The BSP crawl loop — one round == one reference tick-batch (Appendix C).

Round R (SURVEY.md §3.1 Spark lifecycle):
  1. remaining frontier = queued deltas (seq ≥ watermark, parquet row-group
     pruned) ANTI-JOIN fetched seqs — both append-only; nothing is rewritten.
  2. select batch (W1 FIFO / W2 per-host politeness, skew-safe).
  3. fetch join vs ``web`` (J4; broadcast batch side) → classify outcomes
     (D6 state machine) → payload decode/verify (Arrow batches).
  4. discovery: clean+canonicalize links (F2/F3 pandas UDF, fast-path
     vectorized) + redirect re-entry (J5, link_idx 0, depth+1 per A.3).
  5. admission gates in A.2 order → reject counters (one pass).
  6. dedupe: in-batch first-wins window + Bloom→exact seen tiers (J1).
  7. deterministic ``seq`` assignment (Appendix C) → queued delta; seen
     delta + sidecar update; metrics append; **atomic manifest commit**.

Determinism: every ordering decision is computed from data (seq, parent_seq,
link_idx), never from partitioning or arrival order — the single-threaded
oracle (tests/oracle.py) and this loop agree row-for-row by construction.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.functions.canonicalize import canonicalize_one
from simplecrawler_spark.functions.links import clean_expand_series
from simplecrawler_spark.operators import dedupe as dd
from simplecrawler_spark.operators.admission import admit, robots_rules_simple, seed_host_set
from simplecrawler_spark.functions.cookies import CookieJar
from simplecrawler_spark.operators.fetch import (build_request_headers, classify,
                                                 cookie_header_udf, fetch_batch,
                                                 verify_payloads)
from simplecrawler_spark.operators.scheduler import assign_seq, select_batch
from simplecrawler_spark.storage.compaction import plan_and_compact, read_warehouse_table
from simplecrawler_spark.storage.snapshots import Warehouse

# Delta schema v2: `referrer` is NOT stored — it is derivable as the parent
# row's url_norm (rows carry parent_seq), so the candidate stream's wide
# exchanges and the seen/fetched deltas drop ~45 B/row of the ~150 B row;
# CrawlResult.fetched_log restores it with ONE read-time self-join paid by
# consumers instead of every round, and the http seam restores the Referer
# header from the fetched log per batch (seq-stats-pruned parquet read).
# Admission gates and condition specs still see referrer on the candidate
# row — it is dropped right before the dedupe exchange, like `host`. The v1
# layout stored referrer inline; resume_state refuses such a warehouse.
QUEUED_COLS_V2 = ["seq", "url_norm", "url_hash", "host", "depth", "parent_seq"]

# explicit reader schemas: schema inference costs one small Spark job per
# spark.read.parquet call — a few of those per round is pure serial latency
# (the efficiency gate's enemy); the engine knows its own table shapes
SEEN_SCHEMA_V2 = ("seq long, url_norm string, url_hash long, host string, depth int, "
                  "parent_seq long, round_queued int, round int, bucket int")
FETCHED_SEQ_SCHEMA = "seq long, round int"
# column-pruned fetched read for the conditional-GET cache view (S6/J3)
FETCHED_CACHE_SCHEMA = ("url_norm string, url_hash long, image_id string, "
                        "body_size long, status string, round_fetched int, "
                        "etag string, round int")  # etag: real header,
                        # http-mode deltas only; reads as null elsewhere
# column-pruned fetched-delta read for the per-round payload-verify job
FETCHED_PAYLOAD_SCHEMA = ("seq long, url_norm string, image_id string, "
                          "caption string, status string")

_HOST_RE = r"^[a-z]+://([^/]+)"

_LOG = logging.getLogger(__name__)


@dataclass
class CrawlResult:
    warehouse: Warehouse
    rounds: int
    next_seq: int
    events: dict = field(default_factory=dict)

    def fetched_log(self, spark) -> DataFrame:
        """Fetched rows with payload-verification columns joined back on.
        The payload table is written by its own per-round job (reading the
        just-written fetched delta) — the read-time join on ``seq`` (unique)
        keeps the consumer-facing schema identical to when the columns were
        inlined, while the write path stays one pass. The deltas store no
        ``referrer`` column (QUEUED_COLS_V2 note): it is restored here as the
        parent row's url_norm via ONE self-join on parent_seq — paid once by
        the consumer instead of ~45 B/row in every round's exchanges; seeds
        (parent_seq = -1) get a null referrer."""
        f = read_warehouse_table(spark, self.warehouse, "fetched", self.rounds)
        parents = f.select(F.col("seq").alias("parent_seq"),
                           F.col("url_norm").alias("referrer"))
        f = f.join(parents, "parent_seq", "left")
        p = read_warehouse_table(spark, self.warehouse, "payload", self.rounds)
        if p is None:
            return (f.withColumn("phash", F.lit(None).cast("long"))
                    .withColumn("phash_decoded", F.lit(None).cast("long"))
                    .withColumn("psnr", F.lit(None).cast("double"))
                    .withColumn("payload_ok", F.lit(None).cast("boolean")))
        return f.join(
            p.select("seq", "phash", "phash_decoded", "psnr", "payload_ok"),
            "seq", "left")

    def url_seen(self, spark) -> DataFrame:
        return read_warehouse_table(spark, self.warehouse, "seen", self.rounds)

    def metrics(self, spark) -> DataFrame:
        return read_warehouse_table(spark, self.warehouse, "metrics", self.rounds)


def _canon_seeds_udf(cfg: CrawlConfig):
    """F1 over the raw seed list (no base URL) — the seed round's
    canonicalization runs INSIDE its Spark job with the same vectorized
    fast paths as discovery; the old driver-side pass was pure serial time
    paid identically at every parallelism level (~seconds at a 10^5–10^6-
    seed wide crawl — the efficiency gate's worst kind of cost)."""
    from simplecrawler_spark.functions.canonicalize import canonicalize_series

    @F.pandas_udf("string")
    def canon(raw: pd.Series) -> pd.Series:
        return canonicalize_series(
            raw, None,
            strip_querystring=cfg.strip_querystring,
            sort_query_parameters=cfg.sort_query_parameters,
            strip_www_domain=cfg.strip_www_domain,
        )
    return canon


def _clean_links_udf(cfg: CrawlConfig):
    @F.pandas_udf("array<string>")
    def clean(links: pd.Series, base: pd.Series) -> pd.Series:
        return clean_expand_series(
            links, base,
            strip_querystring=cfg.strip_querystring,
            sort_query_parameters=cfg.sort_query_parameters,
            strip_www_domain=cfg.strip_www_domain,
        )
    return clean


def _discover_udf():
    """HTML-discovery mode (F7→F6→F2 in one Arrow pass): raw body →
    decompress (``gziperror`` on failure, body passed through raw as the
    reference does) → charset decode → the six discovery regexes. Output
    raw matches feed the SAME cleanup UDF as table mode.
    Reference: response pipeline crawler.js:≈L1560–1660 then
    ``discoverResources`` ≈L900–950."""
    from simplecrawler_spark.functions.body import decode_series, decompress_series
    from simplecrawler_spark.functions.links import discover_resources

    @F.pandas_udf("struct<links: array<string>, gzip_ok: boolean>")
    def disco(body: pd.Series, content_encoding: pd.Series,
              content_type: pd.Series) -> pd.DataFrame:
        bodies, ok = decompress_series(body, content_encoding)
        texts = decode_series(bodies, content_type)
        links = [discover_resources(t) if t else [] for t in texts]
        # rows with no body never attempted decompression — not a gziperror
        ok = ok | body.isna()
        return pd.DataFrame({"links": links, "gzip_ok": ok})

    return disco


def _with_host_hash(df: DataFrame) -> DataFrame:
    return df.withColumn("host", F.regexp_extract("url_norm", _HOST_RE, 1)).withColumn(
        "url_hash", F.xxhash64("url_norm")
    )


class CrawlEngine:
    """Drives rounds against a corpus (web/images/robots DataFrames)."""

    def __init__(self, spark: SparkSession, cfg: CrawlConfig, web: DataFrame,
                 images: DataFrame | None = None, robots: DataFrame | None = None,
                 fetch_conditions: list[dict] | None = None,
                 download_conditions: list[dict] | None = None,
                 corpus_params=None, robots_txt: DataFrame | None = None):
        self.spark, self.cfg = spark, cfg
        self.web, self.images, self.robots = web, images, robots
        # S3 lazy mode: robots.txt BODIES fetched per new host (anti-join vs
        # the upserted warehouse `robots` delta table), parsed distributed,
        # appended as a per-round delta — no driver-side host list at any
        # scale (SURVEY.md §2.1 S3).
        self.robots_txt = robots_txt
        if cfg.robots_mode == "lazy":
            self.robots = None
        self.fetch_conditions = fetch_conditions or []
        self.download_conditions = download_conditions or []
        self.corpus_params = corpus_params
        root = cfg.warehouse or tempfile.mkdtemp(prefix="crawl_wh_")
        self.wh = Warehouse(root)
        self.events: dict[str, int] = {}
        self.seed_hosts: list[str] = []
        self.compacts: dict[str, list[int]] = {}  # live compaction levels per table
        self.phase_secs: dict[str, float] = {}  # perf diagnostics per phase
        self._payload_done = 0  # payload table verified through this round
        self._robots_simple: bool | None = None  # None = not yet probed
        # D8 acceptCookies: the crawl-wide cookie jar (driver state, like the
        # reference's single CookieJar). Active only when the knob is on AND
        # the corpus actually carries Set-Cookie headers — otherwise the
        # round pays zero (no extra column, no fold job, unchanged schema).
        self.jar = CookieJar()
        # http mode: every real server may send Set-Cookie; table mode: only
        # when the corpus actually carries the column (zero cost otherwise)
        self._cookies_on = bool(cfg.accept_cookies) and (
            cfg.fetch_mode == "http"
            or (web is not None and "set_cookie" in web.columns))

    def _tick(self, phase: str, t0: float) -> float:
        import time as _t
        now = _t.time()
        self.phase_secs[phase] = self.phase_secs.get(phase, 0.0) + (now - t0)
        return now

    # ---- helpers ----
    def _host_caps(self) -> DataFrame | None:
        """J6 — robots Crawl-delay → per-host per-round fetch cap:
        ``max(1, floor(round_seconds / crawl_delay))``. A tiny relation
        derived from the (already broadcast-sized) robots table; joined onto
        the frontier in select_batch — never a driver-side host list."""
        cfg = self.cfg
        if not cfg.honor_crawl_delay or self.robots is None:
            return None
        return self.robots.where(F.col("crawl_delay").isNotNull()).select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(cfg.round_seconds)) / F.col("crawl_delay")),
            ).cast("int").alias("cap"),
        )

    def _bump(self, name: str, n: int) -> None:
        if n:
            self.events[name] = self.events.get(name, 0) + int(n)

    def _write_metrics(self, rnd: int, rows: list[tuple[str, int]],
                       filename: str = "part-0.parquet") -> None:
        # metrics are driver-local counters — write the tiny parquet directly
        # with pyarrow (no Spark job); schema matches a Spark-readable table
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not rows:
            rows = [("noop", 0)]
        tbl = pa.table({
            "round": pa.array([rnd] * len(rows), pa.int32()),
            "event": pa.array([r[0] for r in rows], pa.string()),
            "count": pa.array([int(r[1]) for r in rows], pa.int64()),
        })
        d = self.wh.round_dir("metrics", rnd)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{filename}.tmp{os.getpid()}.parquet")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(d, filename))

    # discovery inputs that ride through the writer but are not persisted
    @property
    def _WRITER_DROP(self) -> tuple:
        base = ("links", "redirect_to", "mime_supported")
        if self.cfg.discovery_mode == "html":
            # raw bodies feed the in-loop regex discovery downstream of the
            # writer; never persisted into the fetched delta
            return base + ("body", "content_encoding")
        return base

    def _fetched_writer(self, rnd: int, yield_cols: list[str]):
        """Pass-through Arrow writer for the fetched delta: each partition
        writes its batches to one parquet file (tmp + atomic rename →
        idempotent under task retry) and yields only ``yield_cols`` — the
        columns discovery actually consumes downstream. The write is a side
        effect of the round's single job instead of its own action, and the
        Python→JVM return path carries ~1/3 of the row (telemetry, headers,
        payload refs etc. reach the parquet file but never cross back —
        pure memory-bus traffic at exactly the volumes the N→4N gate
        measures). Closure captures only plain locals — never ``self``."""
        out_dir = self.wh.round_dir("fetched", rnd)
        os.makedirs(out_dir, exist_ok=True)
        drop = self._WRITER_DROP

        def write_stream(batches):
            import uuid

            import pyarrow.parquet as pq
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            path = os.path.join(out_dir, f"part-{pid:05d}.parquet")
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            writer = None
            done = False
            try:
                for b in batches:
                    keep = [n for n in b.schema.names if n not in drop]
                    wb = b.select(keep)
                    if writer is None:
                        writer = pq.ParquetWriter(tmp, wb.schema)
                    writer.write_batch(wb)
                    yield b.select(yield_cols)
                done = True
            finally:
                if writer is not None:
                    writer.close()
                    if done:
                        os.replace(tmp, path)
                    else:
                        # early generator close (task retry/kill): never
                        # promote a partial file — a zombie attempt's late
                        # rename must not clobber the retry's complete one
                        try:
                            os.remove(tmp)
                        except OSError:
                            pass

        return write_stream

    def _ensure_fetched_complete(self, rnd: int, expected: int,
                                 fetched_sel: DataFrame) -> None:
        """Safety net for the side-effect fetched write: parquet footers are
        summed driver-side (metadata only, no scan); on any shortfall the
        delta is rewritten once with a plain Spark write (rare — logged)."""
        import logging

        import pyarrow.parquet as pq

        d = self.wh.round_dir("fetched", rnd)
        files = [os.path.join(d, f) for f in os.listdir(d)
                 if f.endswith(".parquet") and not f.startswith(".")]
        total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if total != expected:
            logging.getLogger(__name__).warning(
                "fetched delta round=%d has %d rows, expected %d — rewriting",
                rnd, total, expected)
            (fetched_sel.drop(*self._WRITER_DROP)
             .write.mode("overwrite").parquet(d))

    def _remaining(self, upto_round: int, watermark: int) -> DataFrame:
        queued = read_warehouse_table(
            self.spark, self.wh, "seen", upto_round, SEEN_SCHEMA_V2
        ).where(F.col("seq") >= watermark).select(*QUEUED_COLS_V2, "round_queued")
        if self.cfg.host_budget <= 0 and not self.cfg.honor_crawl_delay:
            # FIFO: fetched seqs are exactly the prefix [0, watermark) —
            # D5's _oldestUnfetchedIndex as a pushed-down range predicate;
            # no anti-join needed at all. (With host budgets or crawl-delay
            # caps the batch skips items, so the prefix property breaks.)
            return queued
        fetched = read_warehouse_table(
            self.spark, self.wh, "fetched", upto_round, FETCHED_SEQ_SCHEMA)
        if fetched is None:
            return queued
        fetched = fetched.where(F.col("seq") >= watermark).select("seq")
        # fetched-above-watermark is bounded by budget skips → broadcast anti-join
        return queued.join(F.broadcast(fetched), "seq", "left_anti")

    def _admit_dedupe_assign(self, cands: DataFrame, rnd: int, next_seq: int,
                             seen_df_exact: DataFrame | None,
                             bounds: tuple[int, int] | None = None) -> tuple[int, list]:
        """Shared by seeding (round 0) and discovery: gates → dedupe → seq.
        ``bounds`` = known (min,max) parent_seq of the candidates (the fetch
        batch's seq range) — saves an aggregation job.

        Shuffle-width note: the candidate stream is the round's WIDEST flow —
        every discovered link crosses the dedupe groupBy exchange, the
        tiered-probe Arrow round trip and the seq-assignment exchange.
        ``host`` (~18 B, derivable from url_norm by regexp) is dropped right
        after the admission gates (which see the full row) and recomputed at
        write time — bit-identical, join-free. ``referrer`` (the parent's
        url_norm, ~45 B) is dropped at the same point and never written: the
        deltas carry ``parent_seq``, from which readers restore it on demand
        (``CrawlResult.fetched_log``, the http seam's Referer), so every
        candidate row crosses the exchanges ~45 B narrower and no round pays
        a join to put it back."""
        import time as _t

        from pyspark.sql import Observation

        cfg = self.cfg
        t = _t.time()
        lazy = cfg.robots_mode == "lazy" and cfg.respect_robots_txt
        if lazy:
            # the robots upsert is its own job over cands; persist so the
            # candidate pipeline (incl. the fetched side-effect writer
            # upstream) is not executed twice in one round
            cands = cands.persist()
            self._lazy_robots_update(cands, rnd)
        if self._robots_simple is None:
            # probe once per robots load: wildcard-free rules unlock the
            # pure-JVM robots gate (operators/admission.robots_allowed_col).
            # Guarded exactly like robots_allowed_col's short-circuit — when
            # robots are disabled/absent the answer is never consulted, so
            # don't spend a collect job on it (and in lazy mode don't re-probe
            # after every _reload_robots for nothing)
            if cfg.respect_robots_txt and self.robots is not None:
                self._robots_simple = robots_rules_simple(self.robots)
            else:
                self._robots_simple = True
        gated = admit(cands, self.robots, cfg, self.seed_hosts, self.fetch_conditions,
                      robots_simple=self._robots_simple)
        # admission counters ride along with the first downstream action —
        # zero extra jobs (Spark Observation; one pass, A.2 single-scan)
        reasons = ["protocol", "invaliddomain", "fetchdisallowed", "depth", "fetchprevented"]
        obs = Observation(f"admission_r{rnd}")
        gated = gated.observe(
            obs,
            *[F.sum(F.when(F.col("reject") == r, 1).otherwise(0)).alias(r) for r in reasons],
            F.sum(F.when(F.col("reject").isNull(), 1).otherwise(0)).alias("admitted"),
        )
        t = self._tick("admit_gates", t)
        admitted = gated.where(F.col("reject").isNull()).drop("reject")
        # slim the candidate rows for the wide exchanges (docstring above);
        # the admission gates and condition specs above saw the full row,
        # referrer included
        admitted = admitted.drop("host", "referrer")

        # in-batch first-wins dedupe (U3/J1): min_by over (parent_seq,
        # link_idx) — map-side combinable partial agg, so heavily duplicated
        # candidates collapse BEFORE the shuffle (a row_number window would
        # shuffle+sort every candidate row). Keyed on (url_hash, url_norm):
        # the string disambiguates 64-bit hash collisions. force=true rows
        # (seed round only) get a per-row group key — true duplicates
        # survive dedupe, per the reference's queue.add(item, force).
        cols = [c for c in admitted.columns if c not in ("url_hash", "url_norm")]
        gkeys = ["url_hash", "url_norm"]
        if "force" in admitted.columns:
            admitted = admitted.withColumn(
                "_fk", F.when(F.col("force"), F.col("link_idx")).otherwise(F.lit(0)))
            cols = [c for c in cols if c != "_fk"]
            gkeys = gkeys + ["_fk"]
        first = (
            admitted.groupBy(*gkeys)
            .agg(F.min_by(F.struct(*cols), F.struct("parent_seq", "link_idx")).alias("_s"))
            .select("url_hash", "url_norm", "_s.*")
        )

        seen_paths = self.wh.data_paths("seen", rnd - 1) if rnd > 0 else []
        new = dd.filter_new(
            first, self.wh.root, seen_paths, cfg.n_buckets,
            seen_capacity=cfg.seen_capacity,
            bits_per_key=cfg.bloom_bits_per_key, mode=cfg.dedupe_mode,
            spark=self.spark, seen_df=seen_df_exact,
        )
        new = (new.drop("bucket") if "bucket" in new.columns else new).persist()
        numbered, n_new = assign_seq(new, next_seq,
                                     n_parts=cfg.shuffle_partitions, bounds=bounds)
        t = self._tick("dedupe_assign_counts", t)
        if n_new > 0:
            # zero-admission rounds write no deltas at all — round_paths()
            # skips missing dirs, and a limit(0) write would let Catalyst
            # prune the observe node (breaking the free counters below)
            # (numbered is consumed exactly once, by the write below — it
            # recomputes from the persisted `new`, so no persist here: a
            # one-consumer cache is pure memory-store traffic)
            # ONE unified delta: the frontier log and the url_seen table are
            # the same rows (as the reference's queue and _scanIndex share
            # entries) — a single bucket-partitioned write serves scheduling
            # (seq-pruned), exact dedupe (url_hash-pruned) AND the sidecar
            # update, saving a job + a shuffle every round.
            # restore the column dropped for the wide exchanges: host
            # recomputed from url_norm — bit-identical to the pre-drop value
            restored = numbered.withColumn(
                "host", F.regexp_extract("url_norm", _HOST_RE, 1))
            queued = restored.withColumn("round_queued", F.lit(rnd)).select(*QUEUED_COLS_V2, "round_queued")
            if cfg.dedupe_mode == "tiered":
                dd.register_new(
                    queued, self.wh.root, self.wh.round_dir("seen", rnd),
                    cfg.n_buckets, cfg.seen_capacity, cfg.bloom_bits_per_key)
            else:
                dd.with_bucket(queued, cfg.n_buckets) \
                    .write.mode("overwrite").partitionBy("bucket").parquet(self.wh.round_dir("seen", rnd))
            t = self._tick("frontier_seen_write", t)

        try:
            counters = obs.get  # populated by the dedupe/assign pass; no extra job
        except Exception as exc:
            # defensive: if the observe node was optimized out of every
            # executed plan, fall back to one explicit pass
            _LOG.warning("round %d: admission observation unavailable (%s); "
                         "recounting gate outcomes with an extra job", rnd, exc)
            counters = gated.groupBy().agg(
                *[F.sum(F.when(F.col("reject") == r, 1).otherwise(0)).alias(r) for r in reasons],
                F.sum(F.when(F.col("reject").isNull(), 1).otherwise(0)).alias("admitted"),
            ).collect()[0].asDict()
        metrics_rows = [(r, int(counters[r])) for r in reasons if counters[r]]
        n_admitted = int(counters["admitted"] or 0)
        dupes = n_admitted - n_new
        metrics_rows.append(("queueadd", n_new))
        metrics_rows.append(("queueduplicate", dupes))
        for name, cnt in metrics_rows:
            self._bump(name, cnt)
        new.unpersist()
        if lazy:
            cands.unpersist()
        return n_new, metrics_rows

    ROBOTS_SCHEMA = ("host string, disallow array<string>, allow array<string>, "
                     "crawl_delay double, fetched boolean")

    def _lazy_robots_update(self, cands: DataFrame, rnd: int) -> None:
        """S3 — lazy per-origin robots.txt, fully distributed: hosts never
        attempted before (anti-join vs the upserted warehouse ``robots``
        delta table) have their robots.txt bodies "fetched" (join vs the
        robots_txt table in-sandbox; HTTP GET on a cluster) and parsed with
        the shared RFC-9309 parser in one Arrow-batched pass; the parsed
        rules land as this round's ``robots`` delta. Hosts with no
        robots.txt row are recorded permissively with ``fetched=false``
        (→ ``robotstxterror``), so they are never re-attempted. The
        admission join broadcasts the (host-keyed, rules-only) relation —
        no driver-side host list or rule cache at any scale.
        Reference: ``getRobotsTxt``, ``lib/crawler.js:≈L1080–1200``."""
        from pyspark.sql import Observation

        from simplecrawler_spark.functions.robots import parse_robots_txt

        ua = self.cfg.user_agent
        # per-host FIRST-SEEN scheme (earliest candidate by discovery order):
        # the reference derives the robots URL from the queue item's own
        # protocol (getRobotsTxt, crawler.js:≈L1080) — an https-only host's
        # robots must be fetched over https, not a hardcoded http://
        hosts = (cands.where(F.col("host") != "")
                 .groupBy("host")
                 .agg(F.min_by(F.regexp_extract("url_norm", r"^([a-z]+)://", 1),
                               F.struct("parent_seq", "link_idx"))
                      .alias("proto")))
        if self.robots is not None:
            hosts = hosts.join(self.robots.select("host"), "host", "left_anti")
        if self.robots_txt is not None:
            joined = hosts.join(self.robots_txt, "host", "left")
        else:
            joined = hosts.withColumn("body", F.lit(None).cast("string"))
        # real mode with no robots_txt table: GET http://{host}/robots.txt
        # inside the same distributed pass (operators/http_fetch.py)
        http_robots = self.robots_txt is None and self.cfg.fetch_mode == "http"
        cfg_local = self.cfg

        def parse(batches):
            if http_robots:
                from simplecrawler_spark.operators.http_fetch import (
                    fetch_robots_bodies)
            for pdf in batches:
                if http_robots:
                    pdf = pdf.assign(
                        body=fetch_robots_bodies(pdf["host"], pdf["proto"],
                                                 cfg_local))
                out = []
                for host, body in zip(pdf["host"], pdf["body"]):
                    if body is None:
                        out.append((host, [], [], None, False))
                    else:
                        d, a, cd = parse_robots_txt(body, ua)
                        out.append((host, d, a, cd, True))
                yield pd.DataFrame(
                    out, columns=["host", "disallow", "allow", "crawl_delay", "fetched"])

        obs = Observation(f"robots_r{rnd}")
        delta = joined.mapInPandas(parse, schema=self.ROBOTS_SCHEMA).observe(
            obs,
            F.sum(F.when(F.col("fetched"), 1).otherwise(0)).alias("ok"),
            F.sum(F.when(~F.col("fetched"), 1).otherwise(0)).alias("err"),
        )
        delta.write.mode("overwrite").parquet(self.wh.round_dir("robots", rnd))
        try:
            c = obs.get
        except Exception as exc:
            _LOG.warning("round %d: robots observation unavailable (%s); "
                         "robotstxtfetched/robotstxterror not counted", rnd, exc)
        else:
            self._bump("robotstxtfetched", int(c["ok"] or 0))
            self._bump("robotstxterror", int(c["err"] or 0))
        self._reload_robots(rnd)

    COOKIE_FOLD_SCHEMA = ("seq long, failure string, host string, "
                          "set_cookie array<string>")

    def _fold_cookies(self, rnd: int) -> None:
        """D8 acceptCookies — fold round ``rnd``'s Set-Cookie headers into the
        jar (reference: ``cookies.addFromHeaders`` in handleResponse,
        ``lib/crawler.js:≈L1350``). Reads the just-committed fetched delta
        (column-pruned, footer-bounded — no pipeline re-execution), reduces
        EXECUTOR-SIDE to one row per distinct cookie IDENTITY (name, domain,
        path) keyed by its LAST (seq, header_idx) occurrence — pure-JVM
        expressions, map-side combinable (functions/cookies.
        last_per_cookie_identity) — and replays ascending. Provably ≡
        replaying every response's headers sequentially: CookieJar.add is
        remove-then-append, so per identity both the final value and the jar
        position come from the key's last add. The collect is bounded by the
        JAR size (distinct identities), never O(responses) — a web minting
        per-session cookie VALUES (``sid=<random>`` per response) still
        collapses to one row per identity. ``cfg.cookie_jar_cap`` bounds even
        the identity count (hostile servers minting distinct NAMES): the cap
        keeps the most recently set identities and logs the drop count."""
        from simplecrawler_spark.functions.cookies import last_per_cookie_identity

        df = (self.spark.read.schema(self.COOKIE_FOLD_SCHEMA)
              .parquet(self.wh.round_dir("fetched", rnd))
              .where(F.col("failure").isNull() & F.col("set_cookie").isNotNull()
                     & (F.size("set_cookie") > 0))
              .select("seq", "host",
                      F.posexplode("set_cookie").alias("idx", "sc")))
        cap = int(self.cfg.cookie_jar_cap)
        rows = (last_per_cookie_identity(df)
                .orderBy(F.desc("o")).limit(cap + 1).collect())
        if len(rows) > cap:
            # exact drop count costs one extra agg — only on the rare
            # overflow path (the kept set is still the cap most recent)
            n_total = last_per_cookie_identity(df).count()
            _LOG.warning(
                "round %d: cookie fold dropped %d of %d distinct cookie "
                "identities (cookie_jar_cap=%d; oldest-set dropped)",
                rnd, n_total - cap, n_total, cap)
            rows = rows[:cap]
        rows.sort(key=lambda r: (r["o"]["seq"], r["o"]["idx"]))
        for r in rows:
            self.jar.add_from_headers(r["o"]["sc"], r["o"]["host"])

    def _reload_robots(self, rnd: int) -> None:
        """Swap the admission relation to the union of all robots deltas;
        persisted because every round's admission broadcast reads it."""
        df = read_warehouse_table(self.spark, self.wh, "robots", rnd,
                                  self.ROBOTS_SCHEMA + ", round int")
        if df is None:
            return
        old = self.robots
        self.robots = df.select("host", "disallow", "allow", "crawl_delay").persist()
        self._robots_simple = None  # new rules may introduce wildcards
        if old is not None:
            old.unpersist()

    # ---- lifecycle ----
    def seed(self) -> tuple[int, int]:
        """Round 0: canonicalize + gate + number the seed list (S1).
        Reference: ``start()`` → ``queueURL(initialURL)``,
        ``lib/crawler.js:≈L640–690``; seed depth = 1.

        Canonicalization runs inside the round's Spark job
        (:func:`_canon_seeds_udf`). ``link_idx`` is the seed's position in
        the RAW list: unparseable seeds drop out of the pipeline, shifting
        link_idx VALUES but never their ORDER — and both in-batch dedupe
        (min_by) and seq assignment rank by (parent_seq, link_idx), so
        numbering is identical to the old filtered-list scheme."""
        cfg = self.cfg
        # force=true (queue.js:≈L90): forced seeds ride the same admission
        # pass but carry force=True — the in-batch dedupe gives each a unique
        # group key, so they enqueue even as true duplicates (re-fetch)
        # Arrow-batched driver→JVM transfer: a plain createDataFrame(list of
        # tuples) pickles row-by-row — ~10 s of pure driver-serial time at a
        # 800k-seed wide crawl, paid identically at every parallelism level
        n_c, n_f = len(cfg.seeds), len(cfg.force_seeds)
        pdf = pd.DataFrame({
            "parent_seq": np.full(n_c + n_f, -1, dtype=np.int64),
            "link_idx": np.arange(n_c + n_f, dtype=np.int32),
            "url_raw": pd.Series(list(cfg.seeds) + list(cfg.force_seeds), dtype=object),
            "depth": np.ones(n_c + n_f, dtype=np.int32),
            "referrer": pd.Series([None] * (n_c + n_f), dtype=object),
            "force": np.concatenate([np.zeros(n_c, bool), np.ones(n_f, bool)]),
        })
        raw = self.spark.createDataFrame(
            pdf, "parent_seq long, link_idx int, url_raw string, depth int, "
                 "referrer string, force boolean"
        )
        cands = (raw.withColumn("url_norm", _canon_seeds_udf(cfg)(F.col("url_raw")))
                 .where(F.col("url_norm").isNotNull()).drop("url_raw"))
        cands = _with_host_hash(cands)
        if cfg.filter_by_domain:
            # P1 needs the seed-host set (and the FIRST seed's host for
            # allowInitialDomainChange). Stored compact — first host, then
            # the distinct hosts of every OTHER seed — so a later
            # seed_hosts[0] replacement keeps exactly the hosts the old
            # full-list representation kept, and the manifest stays
            # O(distinct hosts) instead of O(seeds). Only computed when the
            # domain filter is on: one tiny groupBy at config scale.
            cands = cands.persist()
            host_rows = cands.groupBy("host").agg(
                F.min("link_idx").alias("i0"),
                F.count(F.lit(1)).alias("n")).collect()
            if host_rows:
                gmin = min(r["i0"] for r in host_rows)
                first = next(r["host"] for r in host_rows if r["i0"] == gmin)
                tail = sorted(r["host"] for r in host_rows
                              if r["i0"] != gmin or r["n"] > 1)
                self.seed_hosts = [first] + tail
            else:
                self.seed_hosts = []
        else:
            # the set is only consulted by the domain filter — never
            # materialize (or commit) a per-seed host list when it's off
            self.seed_hosts = []
        n_new, metrics_rows = self._admit_dedupe_assign(cands, 0, 0, None, bounds=(-1, -1))
        if cfg.filter_by_domain:
            cands.unpersist()
        self._bump("crawlstart", 1)  # Appendix B: emitted once by start()
        metrics_rows = [("crawlstart", 1)] + metrics_rows
        self._write_metrics(0, metrics_rows)
        state = {"next_seq": n_new, "watermark": 0, "queued": n_new,
                 "config": cfg.to_json(), "seed_hosts": self.seed_hosts,
                 "compacts": {}}
        if cfg.dedupe_mode == "tiered":
            state["sidecars"] = self._sidecar_manifest()
        self.wh.commit(0, state)
        return n_new, 0

    def _verify_payload_rounds(self, rounds: list[int]) -> None:
        """Batched payload verification (the north-rule per-row invariant:
        decode, phash match, PSNR ≥ 40 dB, caption equality) for a WINDOW of
        committed rounds: ONE images-table scan + ONE decode job per window
        instead of one per round. At the design point the images side is the
        100 TB table, so images-scans-per-window is the whole cost of this
        pass — per-round verification re-scanned it every round. Output
        lands in the same per-round ``payload`` delta dirs (with _SUCCESS
        markers) the old per-round writer produced, so readers, compaction
        and crash-repair are unchanged. Idempotent (overwrite)."""
        import re as _re

        import pyarrow as pa
        import pyarrow.parquet as pq

        rounds = [r for r in rounds
                  if os.path.isdir(self.wh.round_dir("fetched", r))]
        if not rounds:
            return
        delta = (self.spark.read.schema(FETCHED_PAYLOAD_SCHEMA + ", round int")
                 .option("basePath", self.wh.table_dir("fetched"))
                 .parquet(*[self.wh.round_dir("fetched", r) for r in rounds]))
        pay = verify_payloads(
            delta.where(F.col("status") == "downloaded"),
            self.images, self.corpus_params, extra_cols={"round": "int"})
        tmp = os.path.join(self.wh.root, f".payload-tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        # partitionBy writes round=R subdirs with the partition value only in
        # the dir name — byte-identical layout to the old per-round writer
        pay.write.mode("overwrite").partitionBy("round").parquet(tmp)
        written = set()
        for name in os.listdir(tmp):
            m = _re.fullmatch(r"round=(\d+)", name)
            if not m:
                continue
            r = int(m.group(1))
            dst = self.wh.round_dir("payload", r)
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(os.path.join(tmp, name), dst)
            open(os.path.join(dst, "_SUCCESS"), "w").close()
            written.add(r)
        shutil.rmtree(tmp, ignore_errors=True)
        for r in set(rounds) - written:
            # no downloaded image rows this round — an empty, schema-carrying
            # delta, exactly like the old per-round writer's 0-row output
            # (schema-less dirs would break schema inference downstream)
            d = self.wh.round_dir("payload", r)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            from simplecrawler_spark.operators.fetch import PAYLOAD_SCHEMA
            st = self.spark.createDataFrame([], PAYLOAD_SCHEMA).schema
            aschema = dd.arrow_schema_for(st)
            pq.write_table(
                pa.Table.from_pydict(
                    {f.name: pa.array([], type=f.type) for f in aschema},
                    schema=aschema),
                os.path.join(d, "part-0.parquet"))
            open(os.path.join(d, "_SUCCESS"), "w").close()

    def _repair_payload(self, last: int) -> None:
        """The payload table is DERIVED — a pure function of the committed
        fetched deltas and the images table. The verify job batches a window
        of rounds (compaction cadence / loop exit), so a crash can leave
        committed rounds' payload deltas missing or partial; this recomputes
        exactly those rounds in one batched job. Rounds at or below the
        payload compaction floor are complete by the verify-before-
        compaction invariant and are skipped."""
        levels = self.compacts.get("payload", [])
        floor = max(levels) if levels else 0  # round 0 is seed-only
        missing = []
        for r in range(floor + 1, last + 1):
            pdir = self.wh.round_dir("payload", r)
            if os.path.isdir(pdir) and os.path.exists(
                    os.path.join(pdir, "_SUCCESS")):
                continue
            missing.append(r)
        self._verify_payload_rounds(missing)

    def _sidecar_manifest(self) -> dict:
        """Snapshot record making the sidecars part of the committed state:
        after this manifest lands, every bucket's Bloom file reflects
        exactly the committed seen table at these params (register_new
        updates sidecars BEFORE the commit), so a resume that finds the
        record intact can skip the rebuild entirely."""
        return {"epoch": True, "capacity": int(self.cfg.seen_capacity),
                "bits_per_key": int(self.cfg.bloom_bits_per_key),
                "n_buckets": int(self.cfg.n_buckets)}

    def _sidecar_rebuild_scope(self, m: dict, last: int,
                               orphan_buckets: set[int]) -> list[int] | None:
        """Which sidecar buckets a resume must rebuild. ``None`` = all (the
        manifest does not vouch for them: pre-epoch snapshot, or the dedupe
        params changed between runs). Otherwise the union of

        * buckets touched by ORPHAN seen deltas (a crashed round's
          register_new set stale-ahead bits — false-positive-only, but
          rebuilt for FPR hygiene), and
        * buckets present in the committed seen layout whose Bloom file is
          missing (poisoned/partially-copied warehouse — skipping those
          would cause FALSE NEGATIVES).

        An empty list = zero rebuild jobs: the common clean-shutdown resume
        never scans the seen table at all (round-4 verdict scale risk #2 —
        the unconditional rebuild was O(corpus) per resume). Residual FPR
        caveat, documented: a crash in the sliver between a bucket's sidecar
        save and its parquet rename leaves stale-ahead bits with no orphan
        bucket dir to flag them — the exact probe keeps membership
        exact, so this costs only false-positive rate, never correctness."""
        import re as _re

        sc = m.get("sidecars")
        if (not sc or sc.get("capacity") != int(self.cfg.seen_capacity)
                or sc.get("bits_per_key") != int(self.cfg.bloom_bits_per_key)
                or sc.get("n_buckets") != int(self.cfg.n_buckets)):
            return None
        need = set()
        for p in self.wh.data_paths("seen", last):
            if not os.path.isdir(p):
                continue
            for name in os.listdir(p):
                bm = _re.fullmatch(r"bucket=(\d+)", name)
                if bm:
                    need.add(int(bm.group(1)))
        missing = {b for b in need
                   if not os.path.exists(self.wh.sidecar_path(b, "bloom"))}
        return sorted(orphan_buckets | missing)

    def _orphan_seen_buckets(self, committed_round: int) -> set[int]:
        """Bucket ids under uncommitted ``seen`` round dirs — scanned BEFORE
        drop_orphans deletes them, so the sidecar rebuild can be scoped to
        exactly the buckets a crashed round touched."""
        import re as _re

        out: set[int] = set()
        base = self.wh.table_dir("seen")
        if not os.path.isdir(base):
            return out
        for name in os.listdir(base):
            rm = _re.fullmatch(r"round=(\d+)", name)
            if rm and int(rm.group(1)) > committed_round:
                try:
                    entries = os.listdir(os.path.join(base, name))
                except OSError:
                    continue
                for b in entries:
                    bm = _re.fullmatch(r"bucket=(\d+)", b)
                    if bm:
                        out.add(int(bm.group(1)))
        return out

    def _refuse_v1_layout(self, last: int) -> None:
        """Raise before resume touches anything if the warehouse was written
        in the retired v1 delta layout (``referrer`` stored inline). The
        layout is read from the data — the parquet footer of one committed
        ``seen`` file, driver-side, no Spark job — because manifests written
        before and after v1's retirement carry no layout key."""
        import glob

        import pyarrow.parquet as pq

        part = next((f for d in self.wh.data_paths("seen", last)
                     for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"),
                                               recursive=True))), None)
        if part is not None and "referrer" in pq.read_schema(part).names:
            raise ValueError(
                f"warehouse {self.wh.root} stores `referrer` inline in its seen "
                f"deltas: the retired v1 delta layout, which this engine cannot "
                f"resume; commit 2b3c116 is the last that can")

    def resume_state(self) -> tuple[int, int, int, int]:
        """S5 — defrost: last committed manifest wins; orphan round dirs from
        a crashed round are dropped; sidecars rebuilt from committed deltas
        ONLY where the snapshot record does not vouch for them (scoped to
        crash-touched/missing buckets; zero jobs on a clean resume —
        reference analog: defrost rebuilds ``_scanIndex`` in one linear pass
        over what it loads, never more, ``queue.js:≈L375–425``)."""
        last = self.wh.latest_round()
        if last is None:
            raise ValueError("nothing to resume: no committed manifest")
        m = self.wh.load_manifest(last)
        self._refuse_v1_layout(last)
        orphan_buckets = self._orphan_seen_buckets(last)
        self.wh.drop_orphans(last)
        self.seed_hosts = m["seed_hosts"]
        self.compacts = m.get("compacts", {})
        if m.get("cookies"):
            self.jar = CookieJar.from_rows(m["cookies"])
        if self.cfg.robots_mode == "lazy":
            self._reload_robots(last)  # upserted rules are part of the snapshot
        if self.cfg.dedupe_mode == "tiered":
            scope = self._sidecar_rebuild_scope(m, last, orphan_buckets)
            if scope is None or scope:
                dd.rebuild_sidecars(
                    self.spark, self.wh.root,
                    read_warehouse_table(self.spark, self.wh,
                                         "seen", last, SEEN_SCHEMA_V2),
                    self.cfg.n_buckets,
                    self.cfg.seen_capacity,
                    self.cfg.bloom_bits_per_key, buckets=scope)
        if self.images is not None:
            self._repair_payload(last)
        self._payload_done = last
        return last, int(m["next_seq"]), int(m["watermark"]), int(m["queued"])

    def run(self, resume: bool = False) -> CrawlResult:
        cfg = self.cfg
        if resume:
            rnd, next_seq, watermark, n_left = self.resume_state()
        else:
            next_seq, _ = self.seed()
            rnd, watermark, n_left = 0, 0, next_seq
        rnd, next_seq, watermark, n_left = self.run_rounds(rnd, next_seq, watermark, n_left)
        if n_left == 0:
            # Appendix B `complete`: frontier drained (fixpoint reached) —
            # recorded as an extra metrics file in the last committed round
            self._bump("complete", 1)
            self._write_metrics(rnd, [("complete", 1)], filename="part-complete.parquet")
        return CrawlResult(self.wh, rnd, next_seq, dict(self.events))

    def run_rounds(self, rnd: int, next_seq: int, watermark: int, n_left: int,
                   n_rounds: int | None = None) -> tuple[int, int, int, int]:
        """Advance up to ``n_rounds`` BSP rounds (None = run to fixpoint).
        Step function shared by ``run()`` and the Structured Streaming
        wrapper (streaming/stream.py: one micro-batch == one round)."""
        cfg = self.cfg
        seen_df_exact = None
        clean = _clean_links_udf(cfg)
        disco_udf = _discover_udf() if cfg.discovery_mode == "html" else None
        done = 0

        import time as _t

        from simplecrawler_spark.operators.pacing import RoundPacer
        pacer = RoundPacer(cfg.interval_ms) if cfg.interval_ms > 0 else None

        # Payload verification batches a WINDOW of rounds into one job (one
        # images-table scan per window — see _verify_payload_rounds). It
        # runs right before compaction (payload deltas must exist before
        # compaction consumes the fetched deltas they derive from) and at
        # loop exit (callers read fetched_log immediately); a crash in
        # between is repaired by _repair_payload on resume.
        def _verify_pending(upto: int) -> None:
            if self.images is None or upto <= self._payload_done:
                return
            t0 = _t.time()
            self._verify_payload_rounds(
                list(range(self._payload_done + 1, upto + 1)))
            self._payload_done = upto
            self.phase_secs["payload_verify"] = (
                self.phase_secs.get("payload_verify", 0.0) + (_t.time() - t0))

        while (rnd < cfg.max_rounds and n_left > 0
               and (n_rounds is None or done < n_rounds)):
            rnd += 1
            done += 1
            t = _t.time()
            if pacer is not None:
                pacer.round_started()
            if cfg.dedupe_mode == "exact":
                seen_df_exact = read_warehouse_table(
                    self.spark, self.wh, "seen", rnd - 1, SEEN_SCHEMA_V2)
            remaining = self._remaining(rnd - 1, watermark)
            host_caps = self._host_caps()
            use_window = cfg.host_budget > 0 or host_caps is not None
            if not use_window:
                # FIFO batch = the seq range [W, W+min(B, n_left)): dense seqs
                # make selection a pure pushed-down filter — no sort, no
                # TakeOrdered driver merge, no counting job. (Appendix C /
                # D5 cursor, fully declarative.)
                n_batch = min(cfg.budget, n_left)
                b_lo, b_hi = watermark, watermark + n_batch - 1
                batch = remaining.where(F.col("seq") <= b_hi)
                if n_batch <= 100_000:
                    # small batches feed TWO subtrees (broadcast-inner hits +
                    # anti-join misses, operators/fetch.py) — cache the pruned
                    # frontier read. Large batches flow through ONE left-outer
                    # join; caching them is pure memory-store traffic.
                    batch = batch.persist()
            else:
                batch = select_batch(remaining, cfg.budget, cfg.host_budget,
                                     cfg.hot_host_threshold, cfg.n_salts,
                                     host_caps=host_caps).persist()
                bstats = batch.agg(
                    F.count(F.lit(1)).alias("n"), F.min("seq").alias("lo"),
                    F.max("seq").alias("hi"),
                ).collect()[0]
                n_batch = int(bstats["n"])
                if n_batch == 0:
                    batch.unpersist()
                    rnd -= 1
                    n_left = 0
                    break
                b_lo, b_hi = int(bstats["lo"]), int(bstats["hi"])
            t = self._tick("select_batch", t)

            from pyspark.sql import Observation

            event_names = ["fetcherror", "fetchtimeout", "fetchclienterror",
                           "notmodified", "fetchredirect", "fetch404",
                           "fetch410", "fetchdataerror", "downloadprevented", "fetchcomplete"]
            ev_obs = Observation(f"events_r{rnd}")
            # `discoverycomplete` (Appendix B) fires once per resource that
            # ran link discovery = downloaded with a supported MIME type;
            # `fetchheaders` fires once per response whose headers arrived
            # (request completed — no transport failure; crawler.js:≈L1330)
            disco = F.sum(F.when((F.col("status") == "downloaded")
                                 & F.col("mime_supported"), 1).otherwise(0))
            hdrs = F.sum(F.when(F.col("found") & F.col("failure").isNull(), 1)
                         .otherwise(0))
            html_mode = cfg.discovery_mode == "html"
            fetch_in = batch
            cache_rel = None
            if cfg.use_cache:
                # J3 — annotate the batch with cached ETag/payload ref (the
                # If-None-Match headers the real seam sends); the cache is
                # a derived view over the fetched log, no second table
                from simplecrawler_spark.operators.cache import (
                    cache_from_fetched_log, with_conditional_headers)
                flog = read_warehouse_table(self.spark, self.wh, "fetched",
                                            rnd - 1, FETCHED_CACHE_SCHEMA)
                cache_rel = (cache_from_fetched_log(flog)
                             if flog is not None else None)
                if cfg.fetch_mode != "http":
                    fetch_in = with_conditional_headers(batch, cache_rel)
            if cfg.fetch_mode == "http":
                # S2 real seam: the full getRequestOptions header set (UA,
                # Cookie from the jar as of end of round R-1, If-None-Match
                # from the cache view, Referer, Accept-Encoding, auth,
                # customHeaders merged last) — then real GETs below; same
                # output contract as fetch_batch, so everything downstream
                # (classify, discovery, gates, dedupe, writer) is
                # mode-agnostic.
                # The deltas store no referrer: the Referer header is the
                # parent's url_norm, restored from the fetched log. The
                # scan is pruned by an EXPLICIT seq range predicate computed
                # from the batch (one tiny agg over ≤budget rows) — a join
                # key alone is not a pushable predicate, so without this the
                # restore would re-read the whole fetched table every round,
                # O(rounds × corpus) cumulative. With it, parquet row-group
                # stats skip everything outside the batch's parent_seq span.
                # http rounds are network-bound, so the restore is paid where
                # it's cheapest — the table-mode hot path never restores it.
                pb = batch.agg(F.min("parent_seq").alias("lo"),
                               F.max("parent_seq").alias("hi")).first()
                flog = read_warehouse_table(
                    self.spark, self.wh, "fetched", rnd - 1,
                    "seq long, url_norm string, round int")
                if flog is None or pb["lo"] is None or pb["hi"] < 0:
                    b_req = batch.withColumn(
                        "referrer", F.lit(None).cast("string"))
                else:
                    parents = flog.where(
                        F.col("seq").between(max(int(pb["lo"]), 0),
                                             int(pb["hi"]))
                    ).select(
                        F.col("seq").alias("parent_seq"),
                        F.col("url_norm").alias("referrer"))
                    b_req = batch.join(parents, "parent_seq", "left")
                fetch_in = build_request_headers(
                    b_req, cfg,
                    cookie_rows=(self.jar.to_rows()
                                 if self._cookies_on else None),
                    cache=cache_rel)
            elif self._cookies_on:
                # D8: this round's requests carry the jar as of the END of
                # round R-1 (BSP: all fetches in a round start simultaneously
                # — same deferral as the conditional-GET cache view). The
                # header lands in the fetched delta so the outbound string is
                # parity-checkable against the oracle.
                if self.jar.cookies:
                    _path = F.regexp_replace(F.col("url_norm"), r"^[a-z]+://[^/]+", "")
                    fetch_in = fetch_in.withColumn(
                        "hdr_cookie",
                        cookie_header_udf(self.jar.to_rows())(F.col("host"), _path))
                else:
                    fetch_in = fetch_in.withColumn(
                        "hdr_cookie", F.lit(None).cast("string"))
            extra_cols = (["body", "content_encoding"] if html_mode else []) + (
                ["set_cookie"] if self._cookies_on else [])
            if cfg.fetch_mode == "http":
                from simplecrawler_spark.operators.http_fetch import http_fetch
                # + etag: the server's real header, persisted in the delta so
                # the cache view stores it verbatim (S6)
                raw = http_fetch(fetch_in, cfg, extra_cols=extra_cols + ["etag"])
            else:
                raw = fetch_batch(fetch_in, self.web, batch_rows=n_batch,
                                  extra_cols=extra_cols or None)
            outcomes = classify(raw, cfg,
                                self.download_conditions).observe(
                ev_obs,
                *[F.sum(F.when(F.col("event") == e, 1).otherwise(0)).alias(e)
                  for e in event_names],
                disco.alias("discoverycomplete"),
                hdrs.alias("fetchheaders"),
            )
            # D2 `stateData.headers`: the response-header map as a real
            # MapType column (queue.js:≈L265–330 lists it; table mode
            # synthesizes the headers a real response would carry)
            outcomes = outcomes.withColumn(
                "headers",
                F.when(
                    F.col("found") & F.col("failure").isNull(),
                    F.map_filter(
                        F.create_map(
                            F.lit("content-type"), F.col("content_type"),
                            F.lit("content-length"),
                            F.col("content_length").cast("string"),
                            F.lit("location"), F.col("redirect_to")),
                        lambda k, v: v.isNotNull())))
            if (cfg.allow_initial_domain_change and cfg.filter_by_domain
                    and rnd == 1 and b_lo <= 0):
                # P1 allowInitialDomainChange (crawler.js:≈L1000–1060): the
                # reference mutates `crawler.host` when the INITIAL URL's
                # response is a cross-domain redirect. One tiny driver-side
                # lookup, only ever in round 1 and only when the knob is on.
                outcomes = outcomes.persist()
                first = (outcomes
                         .where((F.col("seq") == 0) & (F.col("status") == "redirected"))
                         .select("url_norm", "redirect_to").collect())
                if first:
                    u0 = canonicalize_one(
                        first[0]["redirect_to"], first[0]["url_norm"],
                        strip_querystring=cfg.strip_querystring,
                        sort_query_parameters=cfg.sort_query_parameters,
                        strip_www_domain=cfg.strip_www_domain)
                    if u0 is not None:
                        from simplecrawler_spark.functions.canonicalize import split_host
                        nh = split_host(u0)
                        if nh and self.seed_hosts and nh != self.seed_hosts[0]:
                            self.seed_hosts = [nh] + self.seed_hosts[1:]
            # payload verification moved to a POST-delta job (see below):
            # joining it here forced a persisted-outcomes pre-job that
            # re-scanned the whole web table to build the broadcast —
            # ~6.5 s/round of serial floor in the round-3 profile
            fetched = outcomes.withColumn("round_fetched", F.lit(rnd))
            fetched_sel = fetched.select(
                *QUEUED_COLS_V2, "round_queued", "status", "event", "status_code",
                "failure", "content_type", "body_size", "content_length",
                "sent_incorrect_size", "image_id", "caption",
                "request_latency_ms", "download_time_ms", "request_time_ms",
                "payload_ref", "headers",
                *(("hdr_cookie", "set_cookie") if self._cookies_on else ()),
                *(("etag",) if cfg.fetch_mode == "http" else ()),
                "round_fetched",
                # discovery inputs ride along and are dropped by the writer
                "links", "redirect_to", "mime_supported",
                *(("body", "content_encoding") if html_mode else ()))
            # the fetched delta is written as a SIDE EFFECT of the round's one
            # big job (pass-through mapInArrow, atomic per-partition files):
            # a dedicated .write action would add a whole extra job's plan +
            # schedule + scan latency per round — pure serial time (the
            # north_rule efficiency gate's enemy). Arrow (not pandas) so
            # 64-bit hashes survive nullable columns losslessly. Only the
            # columns discovery consumes cross back to the JVM.
            yield_cols = ["seq", "url_norm", "depth", "status",
                          "mime_supported", "links", "redirect_to"]
            if html_mode:
                yield_cols += ["body", "content_encoding", "content_type"]
            yield_schema = fetched_sel.select(*yield_cols).schema
            # size the stage's COMPUTE task count to the round's data volume
            # (cfg.round_tasks to override): the fused scan→join→writer stage
            # otherwise runs one task per CORPUS BUCKET, and each Python-runner
            # task carries a fixed cost even warm (BENCH.md §2e) — 64 buckets
            # × 0.5 s was the dominant term of the measured 8.3 s/round serial
            # floor on protocol-bound small rounds. That cost, ~185 ms/task
            # then, was mostly each task re-reading the pyspark.zip/py4j
            # archive directories (importlib.invalidate_caches on CPython
            # < 3.12), which the worker daemon (worker_daemon.py) removes: an
            # identity mapInArrow task on a 4-core box went ~200 → ~70 ms.
            # Sizing rule (BENCH.md §2f, measured both regimes): ~32k batch
            # rows per task, floored at session parallelism — small rounds run
            # one wave (floor; cuts the serial floor 43%), big rounds keep
            # fine granularity for load balance (the 1v4 control showed coarse
            # coalesce(cores) loses ~2% at the 4-core level to tail skew on
            # 750k-row rounds). Task count thus depends on DATA, not on the
            # storage layout (web_buckets/n_buckets) and not on which cluster
            # size runs the job. coalesce is NARROW (no exchange, the
            # zero-shuffle fetch join is untouched): each parent bucket still
            # merge-joins independently; a coalesced task consumes several
            # buckets' outputs sequentially. No-op whenever the target ≥ the
            # current partition count (coalesce never raises partition count).
            target = self.cfg.round_tasks or max(
                self.spark.sparkContext.defaultParallelism, n_batch // 32768)
            stream = fetched_sel.coalesce(target).mapInArrow(
                self._fetched_writer(rnd, yield_cols), schema=yield_schema)

            # --- discovery (F2/F3) + redirect re-entry (J5), one pass ---
            # pages explode their cleaned links (link_idx 1..n); redirects
            # contribute their target as link_idx 0 (A.3: depth + 1 for both)
            is_page = (F.col("status") == "downloaded") & F.col("mime_supported")
            is_redir = F.col("status") == "redirected"
            gz_obs = None
            if html_mode:
                # F7→F6→F2 over the raw bodies that rode through the writer —
                # discovery stays inside the round's single job; gziperror
                # rides a second Observation (still zero extra jobs)
                stream = stream.withColumn(
                    "_d", disco_udf(F.when(is_page, F.col("body")),
                                    F.col("content_encoding"), F.col("content_type")))
                gz_obs = Observation(f"gzip_r{rnd}")
                stream = stream.observe(
                    gz_obs, F.sum(F.when(is_page & ~F.col("_d.gzip_ok"), 1)
                                  .otherwise(0)).alias("gziperror"))
                links_src = F.col("_d.links")
            else:
                links_src = F.col("links")
            links_arr = (
                F.when(is_page, clean(links_src, F.col("url_norm")))
                .when(is_redir, clean(F.array("redirect_to"), F.col("url_norm")))
                .otherwise(F.array().cast("array<string>"))
            )
            cands = (
                stream.withColumn("_redir", is_redir)
                .select(F.col("seq").alias("parent_seq"),
                        F.col("url_norm").alias("referrer"),
                        F.col("depth").alias("parent_depth"), "_redir",
                        F.posexplode(links_arr).alias("pos", "url_norm"))
                .select(
                    "parent_seq",
                    F.when(F.col("_redir"), 0).otherwise(F.col("pos") + 1)
                    .cast("int").alias("link_idx"),
                    "url_norm",
                    (F.col("parent_depth") + 1).cast("int").alias("depth"),
                    "referrer")
                .where(F.col("url_norm").isNotNull())
            )
            cands = _with_host_hash(cands)

            n_new, metrics_rows = self._admit_dedupe_assign(
                cands, rnd, next_seq, seen_df_exact, bounds=(b_lo, b_hi))
            # the fetched writer ran inside the same job; verify completeness
            # from parquet footers (driver-side, ~ms) — a task killed after
            # its file landed but re-run from cache could otherwise leave a
            # short delta — and mark the delta done
            self._ensure_fetched_complete(rnd, n_batch, fetched_sel)
            open(os.path.join(self.wh.round_dir("fetched", rnd), "_SUCCESS"), "w").close()
            if self._cookies_on:
                self._fold_cookies(rnd)
            t = self._tick("admit_dedupe_assign", t)
            try:
                evc = ev_obs.get  # filled by the round's job; no extra action
            except Exception as exc:
                _LOG.warning("round %d: event observation unavailable (%s); "
                             "recounting fetch events with an extra job", rnd, exc)
                evc = outcomes.groupBy().agg(
                    *[F.sum(F.when(F.col("event") == e, 1).otherwise(0)).alias(e)
                      for e in event_names],
                    disco.alias("discoverycomplete"),
                    hdrs.alias("fetchheaders")).collect()[0].asDict()
            ev_rows = [(e, int(evc[e]))
                       for e in event_names + ["discoverycomplete", "fetchheaders"]
                       if evc[e]]
            # `fetchstart` fires once per attempted fetch — exactly the
            # batch size, no aggregation needed (crawler.js:≈L1240)
            ev_rows.append(("fetchstart", int(n_batch)))
            if gz_obs is not None:
                try:
                    gz = int(gz_obs.get["gziperror"] or 0)
                except Exception as exc:
                    # the bodies streamed through the round's writer once;
                    # recounting would re-run the whole round
                    _LOG.warning("round %d: gzip observation unavailable (%s); "
                                 "gziperror not counted", rnd, exc)
                    gz = 0
                if gz:
                    ev_rows.append(("gziperror", gz))
            for name, cnt in ev_rows:
                self._bump(name, cnt)
            t = self._tick("event_counts", t)
            next_seq += n_new
            n_left = n_left - n_batch + n_new
            metrics_rows = ev_rows + metrics_rows
            self._write_metrics(rnd, metrics_rows)
            t = self._tick("metrics_write", t)

            # watermark is a *pruning lower bound* on unfetched seq, not a
            # correctness input: in FIFO mode the batch is the seq-prefix so
            # the bound advances past it for free; with host budgets we
            # refresh it exactly every 8 rounds (one small agg).
            if not use_window:
                watermark = b_hi + 1 if n_left else next_seq
            elif n_left and rnd % 8 == 0:
                row = self._remaining(rnd, watermark).agg(F.min("seq").alias("lo")).collect()[0]
                watermark = int(row["lo"]) if row["lo"] is not None else next_seq
            compacted = False
            if cfg.compact_every and rnd % cfg.compact_every == 0:
                # payload deltas for the window must exist before compaction
                # consumes the fetched deltas they derive from
                _verify_pending(rnd)
                # compaction covers rounds ≤ rnd-1 (all committed); the new
                # level goes live with THIS round's manifest — the manifest
                # is the transaction, exactly like round deltas
                self.compacts = plan_and_compact(
                    self.spark, self.wh, rnd, self.compacts,
                    cfg.compact_max_levels, SEEN_SCHEMA_V2)
                compacted = True
                t = self._tick("compaction", t)
            manifest = {"next_seq": next_seq, "watermark": watermark,
                        "queued": int(n_left), "batch": int(n_batch),
                        "config": cfg.to_json(), "seed_hosts": self.seed_hosts,
                        "compacts": self.compacts}
            if cfg.dedupe_mode == "tiered":
                manifest["sidecars"] = self._sidecar_manifest()
            if self._cookies_on:
                # the jar is crawl state — snapshot it with the round so
                # defrost resumes with identical outbound headers (D8 + S4/S5)
                manifest["cookies"] = self.jar.to_rows()
            self.wh.commit(rnd, manifest)
            if compacted:
                # post-commit: consumed inputs are no longer referenced by
                # any live manifest — safe to delete (crash here is repaired
                # by drop_orphans on resume)
                self.wh.cleanup_compacted_inputs(self.compacts)
            outcomes.unpersist()
            batch.unpersist()
            if pacer is not None:
                # W3: this round stood for n_batch interval ticks — sleep
                # the wall-clock remainder (reference crawlIntervalID timer)
                slept = pacer.pace(n_batch)
                if slept:
                    self.phase_secs["interval_pacing"] = (
                        self.phase_secs.get("interval_pacing", 0.0) + slept)

        # the caller (run(), the streaming wrapper's per-round tick, tests)
        # may read the payload table immediately — verify the open window
        _verify_pending(rnd)
        return rnd, next_seq, watermark, n_left


def run_crawl(spark: SparkSession, cfg: CrawlConfig, corpus_dir: str,
              resume: bool = False, fetch_conditions=None, download_conditions=None,
              corpus_params=None, with_images: bool = True) -> CrawlResult:
    from simplecrawler_spark.corpus import read_web
    web = read_web(spark, corpus_dir)
    images = spark.read.parquet(f"{corpus_dir}/images") if with_images and os.path.isdir(
        f"{corpus_dir}/images") else None
    robots = spark.read.parquet(f"{corpus_dir}/robots") if os.path.isdir(
        f"{corpus_dir}/robots") else None
    robots_txt = spark.read.parquet(f"{corpus_dir}/robots_txt") if (
        cfg.robots_mode == "lazy" and os.path.isdir(f"{corpus_dir}/robots_txt")) else None
    eng = CrawlEngine(spark, cfg, web, images, robots, fetch_conditions,
                      download_conditions, corpus_params, robots_txt=robots_txt)
    return eng.run(resume=resume)
