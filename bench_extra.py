#!/usr/bin/env python
"""Round-6 optimization measurement harness (guide §1) — separate from the
FROZEN ``bench.py`` driver contract. Prints one JSON line, like bench.py.

``--query NAME`` times ONE operator query from ``__spark_entry__`` in a
fresh session with the exact bench protocol (cold single run, timed window
= DataFrame construction + noop-sink write, AQE on, shuffle partitions =
cores). ``--explain PATH`` additionally writes ``.explain("formatted")`` of
the constructed DataFrame (the plans/r06 evidence files). The crawl is
measured by ``perfbench/run.py``.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — same contract as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def run_query(name: str, explain_path: str | None, no_run: bool = False) -> None:
    from simplecrawler_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app=f"bench-extra-{name}", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription(f"bench_extra: {name}")
    t0 = time.time()
    df = entry_mod.queries()[name](spark, SF_DIR)
    if not no_run:
        df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    if explain_path:
        os.makedirs(os.path.dirname(explain_path) or ".", exist_ok=True)
        with open(explain_path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    from simplecrawler_spark.pipeline import release_cached
    release_cached()
    print(json.dumps({"query": name, "seconds": round(dt, 3),
                      "sf_dir": SF_DIR, "cpus": CPUS}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--explain")
    ap.add_argument("--no-run", action="store_true",
                    help="construct + explain only (plan capture)")
    args = ap.parse_args()
    run_query(args.query, args.explain, no_run=args.no_run)


if __name__ == "__main__":
    main()
