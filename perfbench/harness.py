"""Run plumbing shared by every workload: core pinning, the Spark session
and its warm-up, repeated set-up, the memory sampler, the timing loop and
the result line.

Everything a run writes stays under ``.perfbench/`` in the checkout root
(input cache, Spark scratch dirs, warehouses, traces).
"""

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
OUT = os.path.join(STATE, "out")
TMP = os.path.join(STATE, "tmp")

# every workload runs this many set-ups; setup_s is their median
SETUPS = 3
# an untraced run measures at least this many repetitions and reports medians
MIN_REPS = 1
DRIVER_MEMORY = "2g"


def pin_cores() -> int:
    """Pin this process (and so the JVM and Python workers it starts) to
    the cores it may use; returns their count (``nproc``)."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    return len(cores)


def prepare_dirs() -> None:
    for d in (CACHE, OUT, TMP):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    # Python workers import the engine from the checkout, not from a
    # site-packages install
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def scratch_dir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=TMP)


def spark_conf(cores: int, aqe: bool, event_log: str | None) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.adaptive.enabled": "true" if aqe else "false",
        "spark.local.dir": TMP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
        "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(cores: int, aqe: bool, event_log: str | None = None):
    from simplecrawler_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores,
                      extra=spark_conf(cores, aqe, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Generic JVM/Python warm-up, no engine code: an Arrow
    createDataFrame, a pandas UDF, a shuffle aggregation and a parquet
    write + read (the same recipe as bench/run_crawl.py)."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _wu(s: pd.Series) -> pd.Series:
        return s

    df = spark.createDataFrame(pd.DataFrame(
        {"x": list(range(20000)),
         "s": [f"http://warmup.example/p/{i}" for i in range(20000)]}))
    d = scratch_dir("warmup_")
    (df.withColumn("s2", _wu("s"))
     .groupBy((F.col("x") % 32).alias("k")).agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(d))
    spark.read.parquet(d).count()
    shutil.rmtree(d, ignore_errors=True)


def stop_jvm() -> None:
    """End the driver JVM PySpark launched (``spark.stop()`` leaves it
    running until this process exits) and wait until it has."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()   # the gateway server exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid(spark) -> int | None:
    gw = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    return getattr(proc, "pid", None)


class RssSampler:
    """Peak summed memory of the driver JVM and every process below it (the
    PySpark daemon and its Python workers), sampled from ``/proc``. Each
    process counts its proportional set size (Pss): forked Python workers
    share most pages with the daemon, and summing their plain RSS would
    count those pages once per worker."""

    def __init__(self, root_pid: int | None, period_s: float = 0.2):
        self.root, self.period = root_pid, period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, stack = 0, [self.root]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration):
                pass
            stack.extend(children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        if self.root is not None:
            self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._t.is_alive():
            self._t.join()
        if self.root is not None:
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def repeat_for(seconds: float, fn, min_reps: int = 1) -> list:
    """Call ``fn(rep)`` until ``seconds`` would be exceeded by one more call
    of average length; at least ``min_reps`` calls. Returns their results."""
    out, t0 = [], time.perf_counter()
    while True:
        out.append(fn(len(out)))
        spent = time.perf_counter() - t0
        if len(out) >= min_reps and spent + spent / len(out) > seconds:
            return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         units: dict, info: dict) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    for k, v in info.items():
        print(f"# {k}: {v}")
    for k in metrics:
        print(f"{k} = {metrics[k]!r} {units[k]}")
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
