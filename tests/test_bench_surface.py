"""The engine names perfbench's traced replay imports (perfbench is frozen:
a rename here breaks the benchmark, not the suite). Cheap — no Spark."""

import inspect

import numpy as np

from simplecrawler_spark.operators import dedupe as dd
from simplecrawler_spark.plans import crawl
from simplecrawler_spark.storage import compaction


def test_dedupe_names_keep_their_shape(tmp_path):
    assert len(dd.sidecar_params(200_000, 8, 16)) == 3
    bloom_bytes, k, nb = dd.sidecar_params(200_000, 8, 16)
    bits, table = dd.load_sidecars(str(tmp_path), 0, bloom_bytes, nb)
    assert bits.shape == (bloom_bytes,)
    h = np.arange(-5, 5, dtype=np.int64)
    assert not dd.bloom_check(bits, h, k).any()
    assert dd.cuckoo_check(table, h).all()  # pass-through: every key passes
    assert callable(dd.with_bucket)
    # positional calls as the replay makes them
    inspect.signature(dd.register_new).bind(None, "wh", "wh/seen/round=1", 8, 200_000, 16)
    inspect.signature(dd.rebuild_sidecars).bind(None, "wh", None, 8, 200_000, 16)


def test_plan_and_storage_names_exist():
    assert crawl.QUEUED_COLS_V2 and crawl.SEEN_SCHEMA_V2 is not None
    assert callable(crawl.CrawlEngine.run_rounds)
    assert callable(crawl.CrawlEngine.resume_state)
    assert callable(compaction.plan_and_compact)
    assert callable(compaction.read_warehouse_table)
