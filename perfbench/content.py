"""``content_dedup``: the dataset-builder pass — the ``__spark_entry__``
content queries (exact/near-duplicate text, similarity search, text
analysis) over seeded ``documents``/``embeddings`` tables. No crawl rounds.

A timed repetition runs every query once, each timed from construction
through collecting its rows to the driver (at most a few thousand small
rows, so the collect costs what a noop-sink write would). The collected
rows are checked outside the timing against the DuckDB twins in
``oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

from perfbench import harness

N_DOCS = 800
N_VECS = 1500
DIM = 64
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("the a data spark query row column table scan join merge sort hash "
         "filter group agg window key value line part order customer batch "
         "stream vector small big fast slow index page link crawl fetch "
         "queue host robot cookie cache frame token shard node graph edge "
         "score rank model text image label pixel byte word").split()

TEXT = ["dedup_exact", "text_quality", "lang_id", "fingerprints"]
NEAR_DUP = ["ngram_jaccard", "minhash_near_dup", "simhash_near_dup",
            "simhash_md5_near_dup"]
SIMILARITY = ["ann_cosine_topk", "ann_ivf_topk", "ann_axis_topk", "embed_near_dup"]
QUERIES = NEAR_DUP + SIMILARITY + TEXT


def make_tables(seed: int, out_dir: str) -> None:
    """Seeded documents/embeddings with the sf testdata tables' schemas. About 4%
    of documents repeat an earlier one verbatim and 12% copy one with a few
    words replaced; 5% of vectors are a perturbed copy of an earlier one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        u = rng.random()
        if i and u < 0.04:
            texts.append(texts[int(rng.integers(i))])
        elif i and u < 0.16:
            words = texts[int(rng.integers(i))].split()
            for k in rng.choice(len(words), size=max(1, len(words) // 15), replace=False):
                words[k] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(20, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=N_DOCS, p=LANG_P)],
        "source": [f"src{j}" for j in rng.integers(20, size=N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(N_VECS, DIM))
    for i in range(1, N_VECS):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(i))] + rng.normal(scale=0.1, size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=N_VECS), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return v


def digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and sha256 of the rows with columns in name order, floats
    to 9 significant digits, rows sorted (tests/test_entry_oracle.py's
    comparison, which holds exactly between Spark and DuckDB)."""
    idx = [columns.index(c) for c in sorted(columns)]
    lines = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(lines), h.hexdigest()


class ContentDedup:
    aqe = True    # bench.py runs the operator queries with AQE on

    def __init__(self, seed: int, cores: int, tracer):
        self.seed, self.cores, self.tracer = seed, cores, tracer
        self.dir = os.path.join(harness.CACHE, f"content-{N_DOCS}-{N_VECS}-{seed}")

    def oracle(self) -> dict:
        """DuckDB digests per query, cached per seed."""
        import duckdb

        import __spark_entry__ as entry

        path = os.path.join(self.dir, "oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        sql = entry.oracle_sql()
        out = {}
        for q in QUERIES:
            res = con.execute(sql[q])
            out[q] = digest([d[0] for d in res.description], res.fetchall())
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def prepare(self, spark) -> None:
        """Seeded tables and their oracle digests, both cached per seed."""
        if not os.path.exists(os.path.join(self.dir, "embeddings.parquet")):
            make_tables(self.seed, self.dir)
        self.want = self.oracle()

    def register(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).count()

    def start_services(self) -> None:
        pass

    def stop_services(self) -> None:
        pass

    def one_pass(self, spark, rep) -> dict:
        """Run every query once; returns {query: (seconds, columns, rows)},
        with rows None for a query that raised."""
        import time

        from simplecrawler_spark.pipeline import release_cached

        tr = self.tracer
        out = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                if tr.enabled:
                    with tr.span(f"pipeline.{q}.construct", group=f"q{rep}:{q}") as sp:
                        df = self.queries[q](spark, self.dir)
                    with tr.span(f"pipeline.{q}.execute", group=f"q{rep}:{q}") as sp2:
                        rows = df.collect()
                    sp["query"] = sp2["query"] = q
                else:
                    df = self.queries[q](spark, self.dir)
                    rows = df.collect()
                cols = df.columns
            except Exception as e:   # a query that raises is a failed operation
                cols, rows = repr(e)[:200], None
            out[q] = (time.perf_counter() - t0, cols, rows)
            release_cached()
            spark.catalog.clearCache()
        return out

    def run(self, spark, seconds: float, min_reps: int) -> list[dict]:
        return harness.repeat_for(seconds, lambda rep: self.one_pass(spark, rep), min_reps)

    def check(self, reps) -> tuple[int, int, dict]:
        """Every query's rows in every repetition must equal the oracle's."""
        failed, info, self.out_rows = 0, {}, {}
        for rep in reps:
            for q, (_, cols, rows) in rep.items():
                got = digest(cols, [tuple(r) for r in rows]) if rows is not None else (None, cols)
                self.out_rows[q] = got[0]
                if list(got) != list(self.want[q]):
                    failed += 1
                    info[f"mismatch_{q}"] = f"{got} vs oracle {self.want[q]}"
        info["rows"] = json.dumps(self.out_rows)
        return len(QUERIES) * len(reps), failed, info

    def end_to_end(self, reps: list[dict]) -> tuple[dict, dict]:
        passes = [sum(t for t, _, _ in r.values()) for r in reps]
        per_query = {q: harness.median([r[q][0] for r in reps]) for q in QUERIES}
        samples = [t for r in reps for t, _, _ in r.values()]
        metrics = {"work_s": harness.median(passes), "throughput": N_DOCS / harness.median(passes)}
        named = {f"{q}_s": (per_query[q], "s") for q in NEAR_DUP}
        named["query_p50_s"] = (harness.percentile(samples, 50), "s")
        named["query_p99_s"] = (harness.percentile(samples, 99), "s")
        named["similarity_s"] = (sum(per_query[q] for q in SIMILARITY), "s")
        named["text_s"] = (sum(per_query[q] for q in TEXT), "s")
        return metrics, {"named": named, "repetitions": len(reps),
                         "documents": N_DOCS, "vectors": N_VECS,
                         "latency_samples": len(samples)}

    def cleanup(self, reps) -> None:
        pass
