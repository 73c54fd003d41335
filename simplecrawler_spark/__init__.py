"""simplecrawler_spark — a from-scratch PySpark-native distributed frontier crawler.

Re-expresses the capabilities and observable semantics of the public
``simplecrawler/simplecrawler`` Node.js crawler (v1.1.9) as BSP frontier
expansion over snapshot-versioned Parquet tables of image+caption pairs.

This is NOT a port: the reference is a single-node event loop over a mutable
in-memory array (``lib/queue.js``); this engine is declarative DataFrame
dataflow — anti-join dedupe behind per-bucket Bloom prefilters, windowed
per-host politeness scheduling with skew-safe two-stage top-k, vectorized
Arrow UDF canonicalization, and atomic snapshot manifests for resume.

See SURVEY.md for the operator-by-operator mapping (reference file:line cites
live in each module's docstring).
"""

__version__ = "0.1.0"

from simplecrawler_spark.config import CrawlConfig  # noqa: F401
