"""Per-layer metrics of the traced run.

``collect`` runs while Spark is up (replays, server and warehouse
statistics); ``finish`` runs after the session stopped, when the Spark
event log is complete: it sums stage metrics per job group, splits each
round's wall time into job time and driver gap, writes the full trace
(every metric tagged with workload and round or query) to
``.perfbench/out/trace-<run>.json`` and returns the ``per_layer`` values
that the result line carries.
"""

from __future__ import annotations

import json
import os

from perfbench import harness
from perfbench.trace import covered, group_metrics, latest_event_log

# the per_layer metrics of BENCHMARK.json, reported by every traced run
PER_LAYER = {
    "setup.jvm_start_s": "s",
    "setup.warmup_s": "s",
    "setup.input_register_s": "s",
    "trace.work_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_crossings": "count",
    "crawl.rounds": "count",
    "crawl.urls_fetched": "count",
    "admission.in_rows": "count",
    "admission.out_rows": "count",
    "dedupe.candidates": "count",
    "dedupe.bloom_pass": "count",
    "dedupe.cuckoo_pass": "count",
    "dedupe.exact_probe_rows": "count",
    "dedupe.confirmed_dups": "count",
    "dedupe.new": "count",
    "storage.files": "count",
    "storage.bytes_written": "bytes",
    "http.requests": "count",
    "http.robots_requests": "count",
    "http.transport_failures": "count",
    "pipeline.output_rows": "count",
    "pipeline.join_rows": "count",
}

SPARK_KEYS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "fetch_wait_s", "python_crossings")
SPARK_UNITS = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "fetch_wait_s": "s",
               "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
               "spill_bytes": "bytes"}


def collect(wl, spark, reps, tracer, setups, jvm_start, metrics, args) -> None:
    tr = tracer
    tr.add("setup.jvm_start_s", jvm_start, "s")
    tr.add("setup.warmup_s", harness.median([s["warmup"] for s in setups]), "s")
    tr.add("setup.input_register_s",
           harness.median([s["register"] + s["services"] for s in setups]), "s")
    tr.add("trace.work_s", metrics["work_s"], "s")
    untraced = os.path.join(harness.OUT, f"{args.workload}-seed{args.seed}-untraced.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        for k, v in metrics.items():
            tr.add(f"trace.overhead.{k}", v - base[k], "delta")
    if hasattr(wl, "corpus"):
        rep = reps[-1]
        tr.add("crawl.rounds", rep["rounds"], "count")
        tr.add("crawl.urls_fetched", rep["urls"], "count")
        from perfbench import replay
        replay.frontier_replays(wl, spark, rep)
        if wl.http:
            from perfbench.frontier import read_columns
            http_metrics(wl, tr, read_columns(
                rep["engine"].wh.data_paths("fetched", rep["rounds"]),
                ["request_latency_ms", "failure"]))
    else:
        for q, n in wl.out_rows.items():
            tr.add(f"{q}.output_rows", n or 0, "count", f"query={q}")


def http_metrics(wl, tr, col: dict) -> None:
    """Server-side request statistics from the mirror; client-side latency
    and transport failures from the fetched rows' ``request_latency_ms`` and
    ``failure`` columns."""
    reqs = wl.server_stats["requests"]
    service = [(b - a) * 1000.0 for a, b, _, _ in reqs]
    tr.add("http.requests", len(reqs), "count")
    tr.add("http.robots_requests", sum(1 for r in reqs if r[2]), "count")
    tr.add("http.not_found_requests", sum(1 for r in reqs if not r[3]), "count")
    if service:
        tr.add("http.service_p50_ms", harness.percentile(service, 50), "ms")
        tr.add("http.service_p99_ms", harness.percentile(service, 99), "ms")
        span = max(r[1] for r in reqs) - min(r[0] for r in reqs)
        tr.add("http.server_busy_frac",
               sum(service) / 1000.0 / (span * wl.server_stats["threads"]) if span else 0.0,
               "ratio")
    lat = [x for x in col["request_latency_ms"] if x is not None]
    if lat:
        tr.add("http.client_latency_p50_ms", harness.percentile(lat, 50), "ms")
        tr.add("http.client_latency_p99_ms", harness.percentile(lat, 99), "ms")
    tr.add("http.transport_failures", sum(x is not None for x in col["failure"]), "count")


def finish(tracer, event_dir, args) -> dict:
    tr = tracer
    log = latest_event_log(event_dir)
    groups = group_metrics(log) if log else {}
    # the timed work's groups: c<rep>:r<round> (crawl), q<rep>:<query> (content)
    timed = [s for s in tr.spans if s["group"] and s["group"][0] in "cq"]
    # per round (crawl) or per query (content): job time + driver gap = wall
    for s in timed:
        g = groups.get(s["group"], {})
        if s["name"] == "plans.crawl.round" or s["name"] == "plans.crawl.seed":
            tag = f"round={s.get('round', 0)}"
            wall = s["end"] - s["start"]
            job = covered(g.get("intervals", []), s["start"], s["end"])
            tr.add("crawl.round_s", wall, "s", tag)
            tr.add("crawl.job_s", job, "s", tag)
            tr.add("crawl.driver_gap_s", wall - job, "s", tag)
            tr.add("crawl.jobs_per_round", g.get("jobs", 0), "count", tag)
            tr.add("crawl.stages_per_round", g.get("stages", 0), "count", tag)
            tr.add("crawl.tasks_per_round", g.get("tasks", 0), "count", tag)
            tr.add("crawl.python_crossings", g.get("python_crossings", 0), "count", tag)
            for k in ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "fetch_wait_s"):
                tr.add(f"crawl.{k}", g.get(k, 0), SPARK_UNITS[k], tag)
        elif s["name"].endswith(".construct") or s["name"].endswith(".execute"):
            q, part = s["name"].split(".")[1], s["name"].split(".")[2]
            tr.add(f"{q}.{part}_s", s["end"] - s["start"], "s", f"query={q}")
    for grp in sorted({s["group"] for s in timed if s["name"].endswith(".execute")}):
        q = grp.split(":", 1)[1]
        g = groups.get(grp, {})
        for k in ("task_s", "cpu_s", "spill_bytes", "python_crossings"):
            tr.add(f"{q}.{k}", g.get(k, 0), SPARK_UNITS.get(k, "count"), f"query={q}")
        tr.add(f"{q}.shuffle_bytes", g.get("shuffle_write_bytes", 0), "bytes", f"query={q}")
        tr.add(f"{q}.join_rows", g.get("join_rows_max", 0), "count", f"query={q}")
    for grp, g in sorted(groups.items()):
        if grp.startswith("replay:"):
            for k in ("jobs", "task_s", "cpu_s", "shuffle_write_bytes"):
                tr.add(f"{grp}.{k}", g.get(k, 0), SPARK_UNITS.get(k, "count"), "replay")

    # whole timed window: every job group the timed work set
    tg = {s["group"] for s in timed}
    tot = {k: sum(groups.get(grp, {}).get(k, 0) for grp in tg) for k in SPARK_KEYS}
    spans_by_group = {}
    for s in timed:
        lo, hi = spans_by_group.get(s["group"], (s["start"], s["end"]))
        spans_by_group[s["group"]] = (min(lo, s["start"]), max(hi, s["end"]))
    wall = sum(hi - lo for lo, hi in spans_by_group.values())
    job = sum(covered(groups.get(grp, {}).get("intervals", []), lo, hi)
              for grp, (lo, hi) in spans_by_group.items())
    for k, v in tot.items():
        tr.add(f"spark.{k}", v, SPARK_UNITS.get(k, "count"))
    tr.add("spark.job_s", job, "s")
    tr.add("spark.driver_gap_s", wall - job, "s")

    values = {}
    for row in tr.rows:
        m = row["metric"]
        if m in PER_LAYER and row["tag"] == "run":
            values[m] = row["value"]
        elif m.startswith("storage.files.") or m.startswith("storage.bytes_written."):
            key = "storage.files" if m.startswith("storage.files.") else "storage.bytes_written"
            values[key] = values.get(key, 0) + row["value"]
        elif m.endswith(".output_rows") and row["tag"].startswith("query="):
            values["pipeline.output_rows"] = values.get("pipeline.output_rows", 0) + row["value"]
        elif m.endswith(".join_rows") and row["tag"].startswith("query="):
            values["pipeline.join_rows"] = values.get("pipeline.join_rows", 0) + row["value"]
    # a layer this workload never calls reports 0
    values = {k: values.get(k, 0) for k in PER_LAYER}
    path = os.path.join(harness.OUT, f"trace-{tr.run_id}.json")
    tr.write(path, {"workload": args.workload, "seed": args.seed, "event_log": log})
    print(f"# trace: {path}")
    for row in tr.rows:
        if row["metric"] not in PER_LAYER or row["tag"] != "run":
            print(f"# {row['metric']} [{row['tag']}] = {row['value']!r} {row['unit']}")
    return {"values": values, "units": PER_LAYER}
