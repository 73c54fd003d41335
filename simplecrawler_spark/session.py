"""SparkSession builder with the engine's recommended conf.

Local testing uses ``local[N]``; on a real cluster the same conf ships via
``spark-submit --py-files`` (north_rule: pure-Python deployability — no
custom jars, no Scala).

The Python workers are forked from :mod:`simplecrawler_spark.worker_daemon`
(``spark.python.daemon.module``), which stops every task from re-reading the
``pyspark.zip``/py4j archive directories on CPython < 3.12. The executors'
Python must therefore be able to import this package when the daemon starts:
true in local mode (the driver's working directory or ``PYTHONPATH``), for a
pip install, and with YARN ``--py-files``. Where it is not, pass
``extra={"spark.python.daemon.module": "pyspark.daemon"}`` to run the stock
daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """48 GB, or half the machine's physical memory where that is less. In
    local mode the driver JVM also runs the executors, and G1 grows its heap
    toward the maximum before it collects hard: with a maximum above the
    machine's memory the kernel kills the JVM mid-job instead."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 << 10, phys_mb // 2)}m"


def get_spark(app: str = "simplecrawler-spark", master: str = "local[4]",
              shuffle_partitions: int = 32, extra: dict | None = None) -> SparkSession:
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE stays on for its skew-join splitting, but partition COALESCING
        # is off: `shuffle_partitions` is part of the engine's PLAN (sized to
        # executors × wave factor), and coalescing a UDF-heavy crawl-round
        # shuffle down to ~data-size/64MB partitions destroys parallelism —
        # profiled on this box: the round's fused stage coalesced 32 → 12
        # tasks with a 27 s straggler, capping an 8-core run at ~6/8 slot
        # occupancy (bench_out/scaling.json, BENCH.md §2). On a cluster,
        # re-enable it per-job if scans dominate and partitions are tiny.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # the corpus web table is bucketed AND per-bucket sorted by url_norm
        # with exactly one file per bucket (corpus.write_corpus) — honoring
        # the scan's sort order lets the per-round fetch join stream the
        # corpus side straight into the merge join: no exchange, no sort,
        # no full-bucket buffering. Off by default since Spark 3.0 because
        # multi-file buckets would interleave; ours are single-file.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bounded Arrow batches: binary payload rows can be 10-100 KB each,
        # so 4096 rows keeps Spark→Python transfers in the tens of MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", _driver_memory())
        # binary payload columns: 4096-row columnar batches reach ~100 MB —
        # with 32 concurrent scan tasks that's several GB of heap churn.
        # 1024 rows keeps per-task batches ~25 MB at 128px-image scale.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "simplecrawler_spark.worker_daemon")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
