#!/usr/bin/env python
"""Data-plane scaling evidence #2: the operator suite (content dedup +
similarity + text analysis) at two pinned parallelism levels. These are
single wide jobs with no round barriers, unlike the BSP crawl, which at
sandbox round sizes is stage-latency-bound (see BENCH.md analysis).

    python bench/ops_scaling.py              # sf0.1, cores 2 then 8
    python bench/ops_scaling.py --factor 10  # 10x synthetic corpus cell:
        # the sf0.1 operator cells are sub-2 s — too small to regress
        # meaningfully — so this materializes a deterministic 10x documents/
        # embeddings corpus (per-copy token interleaving / additive vector
        # perturbation keep cross-copy similarity non-degenerate) and runs
        # the content ops on it, making minhash/simhash regressions
        # detectable above noise (r4 verdict "Next round" #6).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = """
import sys
sys.path.insert(0, {repo!r})
from simplecrawler_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(app="ops-big-prep", master="local[8]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
src, out, factor = {sf!r}, {big!r}, {factor}
docs = spark.read.parquet(f"{{src}}/documents.parquet")
n_docs = docs.count()
copies = []
for i in range(factor):
    c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
    if i:
        # interleave a copy-specific token every 3 words: kills most 3-gram
        # shingles so copies are NOT near-duplicates of each other (the op
        # must find the corpus's own planted dups, not a synthetic blowup)
        c = c.withColumn("text", F.regexp_replace(
            "text", r"(\\S+ \\S+ \\S+) ", f"$1 qz{{i}}x "))
    copies.append(c)
big_docs = copies[0]
for c in copies[1:]:
    big_docs = big_docs.unionByName(c)
big_docs.repartition(32).write.mode("overwrite").parquet(f"{{out}}/documents.parquet")
emb = spark.read.parquet(f"{{src}}/embeddings.parquet")
n_vec = emb.count()
ecopies = []
for i in range(factor):
    c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_vec))
    if i:
        # deterministic additive perturbation — decorrelates copies
        c = c.withColumn("embedding", F.transform(
            "embedding",
            lambda x, j: (x + 0.3 * F.sin((j + 1) * F.lit(float(i))))
            .cast("float")))
    ecopies.append(c)
big_emb = ecopies[0]
for c in ecopies[1:]:
    big_emb = big_emb.unionByName(c)
big_emb.repartition(8).write.mode("overwrite").parquet(f"{{out}}/embeddings.parquet")
print("PREPARED", n_docs * factor, n_vec * factor)
"""

CHILD = """
import json, sys, time
sys.path.insert(0, {repo!r})
from simplecrawler_spark.session import get_spark
import __spark_entry__ as em
cores = int(sys.argv[1])
spark = get_spark(app=f"ops{{cores}}", master=f"local[{{cores}}]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
sf = {sf!r}
names = {names!r}
qs = em.queries()
# warm (JIT, file listing, python workers) on a cheap query
qs["dedup_exact"](spark, sf).write.format("noop").mode("overwrite").save()
t_each = {{}}
t0 = time.time()
for n in names:
    s = time.time()
    qs[n](spark, sf).write.format("noop").mode("overwrite").save()
    t_each[n] = round(time.time() - s, 2)
print(json.dumps({{"cores": cores, "total_sec": round(time.time() - t0, 2),
                   "each": t_each}}))
"""


NAMES = ["minhash_near_dup", "simhash_near_dup", "dedup_exact", "text_quality",
         "lang_id", "fingerprints", "embed_near_dup", "u3_first_wins",
         "j4_fetch_join"]
# the 10x corpus carries only documents/embeddings — content ops only
NAMES_BIG = ["minhash_near_dup", "simhash_near_dup", "dedup_exact",
             "text_quality", "lang_id", "fingerprints", "embed_near_dup",
             "ann_cosine_topk", "ann_ivf_topk"]


def main() -> None:
    import argparse
    import tempfile

    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=0,
                    help="replicate the corpus N-fold (deterministic "
                         "perturbations) and run the content ops on it; "
                         "0 = plain sf-dir run")
    ap.add_argument("--out", default=None, help="result JSON path")
    ap.add_argument("--cores", default="2,8",
                    help="two pinned levels; the 10x cell should use 8,32 — "
                         "a 2-core 10x suite is ~40 min by construction "
                         "(ops are ~linear in docs), useless as a per-round "
                         "regression bench")
    args = ap.parse_args()
    lo_c, hi_c = (int(c) for c in args.cores.split(","))

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = NAMES
    if args.factor:
        big = os.path.join(tempfile.gettempdir(),
                           f"ops_big_{os.path.basename(sf)}_x{args.factor}")
        if not os.path.exists(os.path.join(big, "_DONE")):
            shutil.rmtree(big, ignore_errors=True)
            os.makedirs(big, exist_ok=True)
            r = subprocess.run(
                [sys.executable, "-c",
                 PREP.format(repo=REPO, sf=sf, big=big, factor=args.factor)],
                capture_output=True, text=True,
                env=dict(os.environ, PYTHONPATH=REPO), check=True)
            print([l for l in r.stdout.splitlines() if l.startswith("PREP")][-1],
                  flush=True)
            open(os.path.join(big, "_DONE"), "w").close()
        sf, names = big, NAMES_BIG
    script = CHILD.format(repo=REPO, sf=sf, names=names)
    out, failed = {}, {}
    for cores in (lo_c, hi_c):
        cmd = [sys.executable, "-c", script, str(cores)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        r = subprocess.run(cmd, capture_output=True, text=True,
                           env=dict(os.environ, PYTHONPATH=REPO))
        if r.returncode != 0:
            # a crashed level must not erase the completed one(s) —
            # record the stderr tail so the failure is diagnosable
            tail = "\n".join(r.stderr.splitlines()[-15:])
            print(f"LEVEL {cores} FAILED (rc={r.returncode}):\n{tail}",
                  file=sys.stderr, flush=True)
            failed[cores] = {"returncode": r.returncode, "stderr_tail": tail}
            continue
        line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        out[cores] = json.loads(line)
        print(line, flush=True)
    summary = {"suite": "ops", "sf_dir": sf, "factor": args.factor,
               "cores": [lo_c, hi_c]}
    if lo_c in out and hi_c in out:
        ratio = out[lo_c]["total_sec"] / out[hi_c]["total_sec"]
        summary.update(
            t_low=out[lo_c]["total_sec"], t_high=out[hi_c]["total_sec"],
            speedup=round(ratio, 2),
            efficiency_vs_factor=round(ratio / (hi_c / lo_c), 3))
    if failed:
        summary["failed_levels"] = failed
    print(json.dumps(summary))
    dst = args.out or os.path.join(REPO, "bench_out", "ops_scaling.json")
    dst_dir = os.path.dirname(dst)
    if dst_dir:  # --out with a bare filename has no dir to create
        os.makedirs(dst_dir, exist_ok=True)
    with open(dst, "w") as f:
        json.dump({"summary": summary, "detail": out}, f, indent=2)


if __name__ == "__main__":
    main()
