import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("cuckoo-filter-spark-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class LocalShards:
    """The numpy twin of a sharded filter: one ``CuckooFilter`` per
    shard holding ``insert_many`` of the int64 keys the seed-42 router
    (``shard_expr``) sends it. Without failed inserts its answers equal
    the Spark lanes' whatever the insertion order."""

    def __init__(self, keys, capacity, num_shards, cfg):
        import numpy as np

        from cuckoo_filter_spark.core.cuckoo import CuckooFilter
        from cuckoo_filter_spark.operators.membership import (
            per_shard_capacity,
        )

        self.num_shards = num_shards
        u, sid = self._route(keys)
        self.filters = {}
        for s in np.unique(sid):
            flt = CuckooFilter(per_shard_capacity(capacity, num_shards), cfg)
            flt.insert_many(u[sid == s])
            self.filters[int(s)] = flt

    def _route(self, keys):
        import numpy as np

        from cuckoo_filter_spark.hashing import keys_to_unsigned, xxhash64_u64

        u = keys_to_unsigned(np.asarray(keys, dtype=np.int64))
        return u, xxhash64_u64(u, seed=42).view(np.int64) % self.num_shards

    def answer(self, op: str, keys):
        """``op`` ('contains' or 'count') of each int64 key, answered by
        its shard's filter (False / 0 for a shard with no filter)."""
        import numpy as np

        u, sid = self._route(keys)
        out = np.zeros(len(u), dtype=bool if op == "contains" else np.int64)
        for s, flt in self.filters.items():
            sel = sid == s
            out[sel] = getattr(flt, op + "_many")(u[sel])
        return out


@pytest.fixture(scope="session")
def local_shards():
    return LocalShards


@pytest.fixture
def split_confs(spark):
    """Restore the session's file-split confs, which
    ``read_bucketed_keys`` sets, after the test."""
    names = (
        "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
    )
    prev = {n: spark.conf.get(n) for n in names}
    yield
    for n, v in prev.items():
        spark.conf.set(n, v)
