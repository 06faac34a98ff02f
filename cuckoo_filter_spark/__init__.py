"""cuckoo_filter_spark — a PySpark-native distributed sketch library.

A brand-new implementation (NOT a port) of the capabilities of the
reference GPU cuckoo-filter library (tiltedtoast/cuckoo-filter):

* a mergeable, deletable cuckoo-filter sketch (partial-key cuckoo
  hashing, Fan et al. 2014) built per-partition with vectorized
  numpy kernels inside Arrow/pandas UDFs, tree-merged, and queried
  in batch (``contains``/``delete``) — reference surface:
  ``include/CuckooFilter.cuh`` (insertMany/containsMany/deleteMany)
  and ``include/CuckooFilterMultiGPU.cuh`` (sharded scale-out);
* companion mergeable sketches built from scratch: HyperLogLog,
  Bloom, Count-Min, t-digest, KLL, two-choice filter, Misra-Gries
  (plus Spark built-ins for cross-checks);
* training-data pipeline operators: exact/MinHash-LSH/SimHash
  dedup with connected-components clustering, ANN similarity
  search, deterministic sampling and token-budget mixing, exact
  heavy hitters and exact quantiles (sketch-narrowed two-pass
  plans), skew-safe top-k per group, text analysis, multimodal
  plumbing, and streaming variants (stateful builds, windowed
  sketch rollups).

Everything is DataFrame-first: shuffles are expressed as
``repartition``/``groupBy`` so Catalyst/AQE plan them; Python only
runs vectorized over Arrow batches (pandas UDF / applyInPandas /
mapInPandas) — never per row.
"""

import sys

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter

# Inside a Spark Python worker (which unpickles a library UDF), freeze
# the long-lived heap at the next task start and stop every later task
# from re-reading pyspark.zip.
if "pyspark.worker" in sys.modules:
    from cuckoo_filter_spark import _worker

    _worker.install()

__all__ = ["CuckooConfig", "CuckooFilter"]
__version__ = "0.1.0"
