"""Parquet scan helpers.

``read_matched_splits`` sizes the file-split confs so a scan yields
roughly one split per core before reading
(``ShardedCuckooFilter.read_bucketed_keys`` sizes them so every file
is exactly one split). At deployment scale
(≥128 MB row groups) Spark's defaults already do this; the knob
matters for small-file layouts — a freshly bucketed table, a
low-cardinality corpus, local benchmarking — where the default
128 MB ``maxPartitionBytes`` + 4 MB ``openCostInBytes`` packs dozens
of few-MB files into 2-3 splits and serializes every map-side stage
fed by the scan (measured: a 123 MB / 32-file key table scanned as
2 splits on a 32-core session).
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) of ``path`` — any scheme."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def write_json_sidecar(
    spark: SparkSession, table_path: str, name: str, payload: dict
) -> None:
    """Write a small JSON metadata file inside a table directory via
    the Hadoop FileSystem API — works on any scheme (file/hdfs/s3a),
    unlike driver-local ``open()``."""
    fs, jpath = fs_path(spark, f"{table_path}/{name}")
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(payload, indent=1).encode("utf-8")))
    finally:
        out.close()


def read_json_sidecar(
    spark: SparkSession, table_path: str, name: str
) -> Optional[dict]:
    """Read a JSON sidecar written by :func:`write_json_sidecar`;
    None if absent."""
    fs, jpath = fs_path(spark, f"{table_path}/{name}")
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # py4j passes Python bytearrays by value, so stream.read(buf)
        # can't return data — have the JVM drain the stream instead
        data = bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils
            .toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def read_matched_splits(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with ``spark.sql.files.maxPartitionBytes`` /
    ``openCostInBytes`` sized so the scan yields
    ``>= min(defaultParallelism, number of files)`` splits.

    The two confs are session-level (Spark has no per-relation split
    size) and are captured when the scan plans its partitions, so
    they are set *before* the reader is returned. Both confs are
    ALWAYS set — the computed split is clamped into [1 MB, 128 MB],
    so a read of a large table after a small one restores the
    default-sized splits rather than inheriting a stale tiny split
    (which would shatter the big scan into thousands of tasks).
    Splits never go below 1 MB: below parquet row-group granularity
    extra splits are empty tasks.
    """
    target = spark.sparkContext.defaultParallelism
    fs, jpath = fs_path(spark, path)
    total = fs.getContentSummary(jpath).getLength()
    split = min(
        128 << 20, max(1 << 20, int(total / max(target, 1)))
    )
    open_cost = (4 << 20) if split >= (128 << 20) else min(split // 4, 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    return spark.read.parquet(path)
