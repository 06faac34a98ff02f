"""Distributed cuckoo-filter operators over Spark DataFrames.

Two execution modes, mirroring the reference's two deployment
shapes:

* **merged mode** (:class:`DistributedCuckooFilter`) — one logical
  filter. Per-partition partial filters are built with zero
  shuffle (``mapInPandas`` over the source's natural partitions),
  tree-merged executor-side, and the final blob is broadcast for
  batch ``contains``. This is the analog of the single-GPU filter
  (``/root/reference/include/CuckooFilter.cuh``) plus the IPC
  share-one-filter capability (``CuckooFilterIPC.cuh`` — persist +
  broadcast replaces the shm ring buffer).
* **sharded mode** (:class:`ShardedCuckooFilter`) — the filter is a
  DataFrame of disjoint key-sharded sub-filters; queries/deletes
  are routed to their owning shard by an independent hash, exactly
  the multi-GPU layout (``CuckooFilterMultiGPU.cuh:44-51,168-323``:
  partition → all-to-all → local op). Spark's Exchange IS the
  multisplit+all2all. This is the 10^12-key path: state never
  concentrates on one node. Every shard is a
  :class:`~cuckoo_filter_spark.core.cuckoo.CuckooFilter` of
  ``CuckooConfig.bucket_policy``, as the reference's one
  ``CuckooFilter`` template takes its bucket policy as a parameter
  (``bucket_policies.cuh:14-351``).

Scale notes (100 TB / 1000 executors):
* build is map-side only in merged mode — no shuffle of raw keys;
  the only exchanged bytes are filter blobs (treeReduce).
* sharded mode shuffles only the 8-byte keys, not source rows;
  probes co-locate with shard state via the same partitioner, so
  contains/delete is a single Exchange per batch.
* shard routing hash (JVM ``F.xxhash64``, seed 42) is independent
  of the fingerprint/bucket hash (numpy XXH64, private seed), so
  shard id never correlates with bucket index — the reference gets
  this for free by taking ``hash % numGPUs`` on the full 64-bit
  hash (``CuckooFilterMultiGPU.cuh:44-51``); with pow2 bucket masks
  we must use distinct seeds instead (SURVEY §2.3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, LongType, StructField, StructType,
)

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.hashing import keys_to_unsigned

#: per-shard capacity slack for hash imbalance, as in the reference
#: multi-GPU layer (``CuckooFilterMultiGPU.cuh:337``).
OVERPROVISION = 1.02


def per_shard_capacity(capacity: int, num_shards: int) -> int:
    """Key capacity of each shard filter of a ``capacity``-key filter
    split ``num_shards`` ways, with the :data:`OVERPROVISION` slack."""
    return int(math.ceil(capacity / num_shards * OVERPROVISION))


def explode_lists(packed: DataFrame, columns: dict) -> DataFrame:
    """One row per list element of ``packed`` (a codegen'd
    ``explode(arrays_zip(...))``): ``columns`` maps each output column,
    in order, to its packed column; the array columns are zipped
    element-wise and the others repeat on every element's row."""
    lists = [
        src for src in columns.values()
        if isinstance(packed.schema[src].dataType, ArrayType)
    ]
    rows = packed.select(
        *(c for c in columns.values() if c not in lists),
        F.explode(F.arrays_zip(*lists)).alias("__z"),
    )
    return rows.select(*(
        F.col(f"__z.{src}" if src in lists else src).alias(name)
        for name, src in columns.items()
    ))


_SHARD_SCHEMA = StructType([
    StructField("shard_id", LongType()),
    StructField("blob", BinaryType()),
    StructField("rows", LongType()),
    StructField("inserted", LongType()),
    StructField("kicks", LongType()),
    StructField("failures", LongType()),
])


def _shard_record(sid: int, flt: Optional[CuckooFilter], rows: int) -> dict:
    """Shard ``sid``'s ``_SHARD_SCHEMA`` row as one-element columns:
    its filter ``flt`` and the ``rows`` fed to it. A shard with no
    filter (``flt`` None) has no blob and zero counters."""
    return {
        "shard_id": [sid],
        "blob": [None if flt is None else flt.to_bytes()],
        "rows": [rows],
        "inserted": [0 if flt is None else flt.occupied],
        "kicks": [0 if flt is None else flt.kicks],
        "failures": [0 if flt is None else flt.failures],
    }


def _group_by_shard(sids: np.ndarray, *arrays: np.ndarray):
    """Yield ``(shard id, *arrays restricted to that shard)`` once per
    distinct shard id in ``sids``; rows keep their input order within
    a shard."""
    if len(sids) == 0:
        return
    order = np.argsort(sids, kind="stable")
    ss = sids[order]
    grouped = [a[order] for a in arrays]
    bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
        yield (int(ss[b0]), *(a[b0:b1] for a in grouped))


def _shard_rows(parts, per_shard_cap: int, cfg: CuckooConfig):
    """Fill one new filter per shard from ``(shard ids, packed
    candidates)`` batches with ``insert_packed``; yield one
    :func:`_shard_record` per shard."""
    per_shard: dict[int, list[np.ndarray]] = {}
    for sids, vals in parts:
        for sid, chunk in _group_by_shard(sids, vals):
            per_shard.setdefault(sid, []).append(chunk)
    for sid, chunks in per_shard.items():
        flt = CuckooFilter(per_shard_cap, cfg)
        for chunk in chunks:
            flt.insert_packed(chunk)
        yield _shard_record(sid, flt, sum(map(len, chunks)))


def _arrow_shard_builder(
    per_shard_cap: int, cfg: CuckooConfig, shard_shift: int | None = None
):
    """mapInArrow worker: group packed batches by shard and run
    placement-only inserts (the hash chain already ran in codegen).
    Arrow in/out — no pandas boxing on the hot path. With
    ``shard_shift`` the input is ONE column carrying
    ``(shard << shard_shift) | (i1 << f) | fp``; otherwise two
    columns (__shard, __packed). A null raises ``ValueError``: a
    schema column the scanned files lack reads as null."""

    def build_shards(batches):
        def parts():
            for rb in batches:
                if any(c.null_count for c in rb.columns):
                    raise ValueError(f"null in key columns {rb.schema.names}")
                if shard_shift is not None:
                    v = rb.column(0).to_numpy(zero_copy_only=False)
                    local_mask = np.int64((1 << shard_shift) - 1)
                    yield v >> np.int64(shard_shift), v & local_mask
                else:
                    yield (
                        rb.column(0).to_numpy(zero_copy_only=False),
                        rb.column(1).to_numpy(zero_copy_only=False),
                    )

        for row in _shard_rows(parts(), per_shard_cap, cfg):
            yield pa.RecordBatch.from_pydict(row)

    return build_shards


def _packed_shard_shift(
    per_shard_cap: int, num_shards: int, cfg: CuckooConfig,
) -> Optional[int]:
    """Bit position of the shard id in the single-long packed layout
    ``(shard << shift) | (i1 << f) | fp``, or None when
    shard+bucket+tag exceed 62 bits and the two-column layout must
    be used instead."""
    nb = cfg.num_buckets_for(per_shard_cap)
    shift = cfg.bits_per_tag + (nb - 1).bit_length()
    shard_bits = max(1, (num_shards - 1).bit_length())
    return shift if shift + shard_bits <= 62 else None


def _packed_keys(
    df: DataFrame, key_col: str, num_shards: int, per_shard_cap: int,
    cfg: CuckooConfig,
) -> tuple[DataFrame, Optional[int]]:
    """Keys hashed JVM-side into the reference pack-kernel layout
    (``CuckooFilter.cuh:1185-1207``) and hash-partitioned by shard:
    ONE long ``(shard << shift) | (i1 << f) | fp`` per key, the shard
    id riding the spare upper bits, or the two-column
    ``(__shard, __packed)`` layout when shard+i1+f exceed 62 bits
    (per-shard bucket counts beyond ~2^40 at f=16). Returns
    ``(frame, shift)``, shift None for the two-column layout. Null
    keys are dropped: ``xxhash64`` skips nulls, so they would hash
    like a real key."""
    from cuckoo_filter_spark.hashing import packed_expr

    df = df.filter(F.col(key_col).isNotNull())
    packed = packed_expr(
        key_col, cfg.num_buckets_for(per_shard_cap), cfg.bits_per_tag,
        cfg.bucket_policy,
    )
    shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
    if shift is None:
        return (
            df.select(
                shard_expr(key_col, num_shards).alias("__shard"),
                packed.alias("__packed"),
            ).repartition(num_shards, "__shard"),
            None,
        )
    one = F.shiftleft(shard_expr(key_col, num_shards), shift).bitwiseOR(packed)
    return (
        df.select(one.alias("__packed")).repartition(
            num_shards, F.shiftrightunsigned(F.col("__packed"), shift)
        ),
        shift,
    )


# ---------------------------------------------------------------------------
# merged mode
# ---------------------------------------------------------------------------


class DistributedCuckooFilter:
    """Build one mergeable filter from a DataFrame key column."""

    def __init__(self, filter_: CuckooFilter):
        self.filter = filter_
        self._probe = None

    # -- build ----------------------------------------------------------

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        config: Optional[CuckooConfig] = None,
    ) -> "DistributedCuckooFilter":
        """Per-partition partial build + executor-side fan-in merge.

        No shuffle of keys: each input partition builds a partial
        filter of the FINAL geometry (merge requires identical
        geometry), and only blobs move — first into
        ``sketch_agg.MERGE_FAN_IN`` executor-side merge tasks, then
        their survivors to the driver. ONE Spark job, all-Arrow (the
        old RDD ``treeReduce`` cost a job per level). Equivalent
        dataflow to the reference's per-GPU build + union
        (``CuckooFilterMultiGPU.cuh:335-363``). Delegates to the
        generic mergeable-sketch aggregation (``sketch_agg.
        aggregate_sketch``) — the cuckoo filter IS a sketch under
        that protocol.
        """
        from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

        cfg = config or CuckooConfig()
        return DistributedCuckooFilter(
            aggregate_sketch(df, key_col, lambda: CuckooFilter(capacity, cfg))
        )

    # -- query ----------------------------------------------------------

    def contains_udf(self, spark: SparkSession):
        """Vectorized membership against the broadcast bucket table
        (containsMany, ``CuckooFilter.cuh:518-523``): the sharded
        filter's broadcast probe (:func:`_stacked_probe_udf`) with this
        filter as its one shard. Returns a Column function; a null key
        answers NULL."""
        if self._probe is None:
            bc = spark.sparkContext.broadcast(self.filter.buckets.tobytes())
            self._probe = _stacked_probe_udf(
                bc, self.filter.num_buckets, 1, self.config
            )
        return self._probe

    def contains(self, df: DataFrame, key_col: str, out_col: str = "member") -> DataFrame:
        spark = df.sparkSession
        return df.withColumn(out_col, self.contains_udf(spark)(F.col(key_col)))

    @property
    def config(self) -> CuckooConfig:
        return self.filter.config


# ---------------------------------------------------------------------------
# sharded mode (multi-GPU analog)
# ---------------------------------------------------------------------------


def shard_expr(key_col: str, num_shards: int):
    """Shard router: JVM-side xxhash64 (seed 42) mod num_shards —
    independent of the fingerprint hash family (private seed)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_shards)).cast("long")


def _stacked_probe_udf(bc, nb: int, num_shards: int, cfg: CuckooConfig):
    """The broadcast probe, as a Column function: every shard's buckets
    stacked into ONE (num_shards*nb, bucket_size) array ``bc`` (shard s
    occupies bucket rows [s*nb, (s+1)*nb)), so a whole Arrow batch is
    answered in a single vectorized pass under any bucket policy. Per
    key, the router hash (xxhash64 seed 42, bit-exact with the JVM
    build-time router) picks the shard and, chained with FP_SALT, gives
    the hash a geometry-only ``CuckooFilter(nb * bucket_size, cfg)``
    maps to the key's two rows and tags; the rows are then offset by
    shard*nb. A null key answers NULL: it reaches the UDF as a stand-in
    0 whose answer is discarded JVM-side."""
    bs = cfg.bucket_size

    @F.arrow_udf(BooleanType())
    def member(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        from cuckoo_filter_spark.config import FP_SALT
        from cuckoo_filter_spark.core.cuckoo import probe_rows
        from cuckoo_filter_spark.hashing import (
            xxhash64_const_vseed, xxhash64_u64,
        )

        kernel = CuckooFilter(nb * bs, cfg)
        big = np.frombuffer(bc.value, dtype=kernel.buckets.dtype).reshape(
            -1, bs
        )
        for arr in batches:
            keys = keys_to_unsigned(arr.to_numpy())
            n = len(keys)
            res = np.empty(n, dtype=bool)
            for lo in range(0, n, kernel.CHUNK):
                hr = xxhash64_u64(keys[lo:lo + kernel.CHUNK], seed=42)
                i1, i2, t1, t2 = kernel.candidates_from_hash(
                    xxhash64_const_vseed(FP_SALT, hr)
                )
                base = (hr.view(np.int64) % num_shards) * nb
                probe_rows(
                    big, base + i1, base + i2, t1, t2,
                    out=res[lo:lo + len(hr)],
                )
            yield pa.array(res)

    return lambda key: F.when(
        key.isNotNull(), member(F.coalesce(key, F.lit(0)))
    )


@dataclass
class ShardedCuckooFilter:
    """A filter kept as a DataFrame of disjoint key-sharded blobs.

    ``shards`` schema: (shard_id, blob, rows, inserted, kicks,
    failures). State stays distributed; queries and deletes shuffle
    only their 8-byte keys to the owning shard. Each shard is a
    ``CuckooFilter`` of ``config.bucket_policy``.
    """

    shards: DataFrame
    num_shards: int
    config: CuckooConfig
    key_col: str = "key"
    #: per-shard bucket count (known at build time); sizes the
    #: broadcast guard and is saved in checkpoints. None for externally
    #: loaded shard sets, whose count is read from a blob header.
    shard_num_buckets: Optional[int] = None
    #: broadcast-lane size guard: collecting + broadcasting every
    #: shard only makes sense while the whole filter fits the driver
    #: and executors comfortably. Past this many broadcast bytes
    #: (``_broadcast_bytes``) the broadcast lanes fall back to the
    #: shard-routed ops (state stays on executors) with a warning.
    max_broadcast_bytes: int = 512 << 20
    _bcast: object = None    # cached (broadcast, probe UDF)
    _blob_bytes: object = None  # cached total_blob_bytes()

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        num_shards: int,
        config: Optional[CuckooConfig] = None,
    ) -> "ShardedCuckooFilter":
        """Shuffled build: one hash Exchange sends each key to its
        shard's partition, where one Python stage fills the shard
        filters. The whole hash chain runs JVM-side: the Exchange
        carries ``(shard << (f+log2(nb))) | (i1 << f) | fp`` in a SINGLE long
        (:func:`_packed_keys`), so the shuffled UnsafeRow is one field
        (16 bytes) instead of two (24 bytes), and the Python stage is
        pure placement (``insert_packed``) — same filters bit-for-bit
        as ``insert_many`` of the same keys (chained hash family
        parity)."""
        cfg = config or CuckooConfig()
        per_shard_cap = per_shard_capacity(capacity, num_shards)
        frame, shard_shift = _packed_keys(
            df, key_col, num_shards, per_shard_cap, cfg
        )
        shards = frame.mapInArrow(
            _arrow_shard_builder(per_shard_cap, cfg, shard_shift),
            schema=_SHARD_SCHEMA,
        )
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col,
            shard_num_buckets=cfg.num_buckets_for(per_shard_cap),
        )

    #: sidecar file recording the packed-layout parameters inside a
    #: write_bucketed_keys table directory
    LAYOUT_SIDECAR = "_cuckoo_layout.json"

    @staticmethod
    def _layout_payload(
        num_shards: int, per_shard_cap: int, cfg: CuckooConfig,
        shard_shift: Optional[int],
    ) -> dict:
        return {
            "version": 1,
            "layout": "packed1" if shard_shift is not None else "two_col",
            "shard_shift": shard_shift,
            "num_shards": num_shards,
            "per_shard_cap": per_shard_cap,
            "num_buckets": cfg.num_buckets_for(per_shard_cap),
            "bits_per_tag": cfg.bits_per_tag,
            "bucket_size": cfg.bucket_size,
            "bucket_policy": cfg.bucket_policy,
        }

    @staticmethod
    def build_bucketed(
        df: DataFrame,
        capacity: int,
        num_shards: int,
        config: Optional[CuckooConfig] = None,
        key_col: str = "key",
        path: Optional[str] = None,
    ) -> "ShardedCuckooFilter":
        """Zero-shuffle build from a pre-bucketed source.

        ``df`` is a table written by :meth:`write_bucketed_keys`
        (or any table bucketed by the shard router at ingest time —
        the 100 TB deployment shape: the corpus is bucketed by
        content-hash once, every filter build after that is a pure
        scan → per-task placement with NO Exchange). Two layouts are
        accepted: the compact single-column ``__packed`` with the
        shard id riding the spare upper bits (8 B/row scanned and
        shipped to the placement workers — the default
        ``write_bucketed_keys`` output when shard+bucket+tag fit in
        62 bits), or the two-column ``(__shard, __packed)`` fallback.
        Tasks may mix shards, since the builder groups arrow-side, but
        no shard may be split across tasks: each task builds its own
        filter per shard id, so a shard cut in two comes back as two
        partial rows, of which the probes read one (false negatives).
        Read the table with :meth:`read_bucketed_keys`, which scans
        every file as one split; at default split sizes Spark cuts any
        file with several row groups past ``maxPartitionBytes``.

        The packed layout is only decodable with the write-time
        parameters — a mismatched ``capacity``/``num_shards``/
        ``config`` would silently mis-extract shard ids and tags
        (corrupt filter). ``write_bucketed_keys`` therefore records
        the layout in a ``_cuckoo_layout.json`` sidecar; pass
        ``path`` so this build validates its derived layout against
        it and raises on any mismatch instead of corrupting.
        """
        cfg = config or CuckooConfig()
        per_shard_cap = per_shard_capacity(capacity, num_shards)
        shard_shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
        if path is not None:
            from cuckoo_filter_spark.sources.parquet_io import (
                read_json_sidecar,
            )

            recorded = read_json_sidecar(
                df.sparkSession, path, ShardedCuckooFilter.LAYOUT_SIDECAR
            )
            if recorded is not None:
                derived = ShardedCuckooFilter._layout_payload(
                    num_shards, per_shard_cap, cfg, shard_shift,
                )
                diffs = {
                    k: (recorded.get(k), v)
                    for k, v in derived.items()
                    if recorded.get(k) != v
                }
                if diffs:
                    raise ValueError(
                        "bucketed table layout mismatch (recorded vs "
                        f"derived): {diffs} — rebuild with the write-time "
                        "capacity/num_shards/config or re-write the table"
                    )
        if "__shard" in df.columns:
            frame, shard_shift = df.select("__shard", "__packed"), None
        elif shard_shift is None:
            raise ValueError(
                "single-column bucketed layout requires "
                "shard+bucket+tag <= 62 bits; re-write the table "
                "with the (__shard, __packed) layout"
            )
        else:
            frame = df.select("__packed")
        shards = frame.mapInArrow(
            _arrow_shard_builder(per_shard_cap, cfg, shard_shift),
            schema=_SHARD_SCHEMA,
        )
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col,
            shard_num_buckets=cfg.num_buckets_for(per_shard_cap),
        )

    @staticmethod
    def write_bucketed_keys(
        df: DataFrame, key_col: str, capacity: int, num_shards: int,
        path: str, config: Optional[CuckooConfig] = None,
    ) -> None:
        """Materialize the shard-bucketed key table to parquet — the
        one-time table-preparation step that makes every subsequent
        :meth:`build_bucketed` shuffle-free. When shard+bucket+tag
        fit in 62 bits (per-shard bucket counts up to ~2^40 at f=16)
        the table is a SINGLE packed long per key — shard id in the
        spare upper bits, the reference pack-kernel layout
        (``CuckooFilter.cuh:1185-1207``) — so the build scans and
        ships 8 B/row instead of 16; otherwise the two-column
        ``(__shard, __packed)`` fallback is written. A
        ``_cuckoo_layout.json`` sidecar records the layout
        parameters so :meth:`build_bucketed` can validate instead of
        trusting caller-supplied geometry."""
        from cuckoo_filter_spark.sources.parquet_io import write_json_sidecar

        cfg = config or CuckooConfig()
        per_shard_cap = per_shard_capacity(capacity, num_shards)
        frame, shard_shift = _packed_keys(
            df, key_col, num_shards, per_shard_cap, cfg
        )
        # one file per shard partition (build_bucketed needs every
        # shard whole in one file), whatever the session's file cap
        frame.write.mode("overwrite").option("maxRecordsPerFile", 0).parquet(
            path
        )
        write_json_sidecar(
            df.sparkSession, path, ShardedCuckooFilter.LAYOUT_SIDECAR,
            ShardedCuckooFilter._layout_payload(
                num_shards, per_shard_cap, cfg, shard_shift
            ),
        )

    @staticmethod
    def read_bucketed_keys(spark: SparkSession, path: str) -> DataFrame:
        """Read a :meth:`write_bucketed_keys` table as exactly one scan
        split per file, so every shard lands whole in one
        :meth:`build_bucketed` task (a correctness requirement): the
        session's ``maxPartitionBytes`` and ``openCostInBytes`` are
        set to the largest file's length, so no file is cut and no two
        share a split. The layout sidecar gives the schema, so no
        schema-inference job runs; a table without one is inferred."""
        from cuckoo_filter_spark.sources.parquet_io import (
            fs_path, read_json_sidecar,
        )

        fs, jpath = fs_path(spark, path)
        files = fs.listFiles(jpath, True)
        largest = 1
        while files.hasNext():
            largest = max(largest, files.next().getLen())
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest))
        spark.conf.set("spark.sql.files.openCostInBytes", str(largest))
        layout = read_json_sidecar(
            spark, path, ShardedCuckooFilter.LAYOUT_SIDECAR
        )
        reader = spark.read
        if layout is not None:
            reader = reader.schema(
                "__packed bigint" if layout["layout"] == "packed1"
                else "__shard bigint, __packed bigint"
            )
        return reader.parquet(path)

    def persist(self) -> "ShardedCuckooFilter":
        self.shards = self.shards.persist()
        return self

    def total_blob_bytes(self) -> int:
        """Total serialized filter bytes across shards (one cheap
        aggregate; cached — shards are immutable)."""
        if self._blob_bytes is None:
            self._blob_bytes = int(
                self.shards.agg(
                    F.sum(F.length("blob")).alias("b")
                ).collect()[0]["b"] or 0
            )
        return self._blob_bytes

    def _num_buckets(self) -> int:
        """Per-shard bucket count: :attr:`shard_num_buckets`, else read
        from one blob header (1 when there are no shards)."""
        if self.shard_num_buckets is not None:
            return self.shard_num_buckets
        row = self.shards.select(
            F.substring("blob", 1, CuckooFilter.HEADER_BYTES)
        ).first()
        if row is None:
            return 1
        return CuckooFilter.blob_num_buckets(bytes(row[0]))

    def _broadcast_bytes(self) -> int:
        """Bytes :meth:`contains_broadcast` ships: the dense stacked
        table (:meth:`_stacked_buckets`), which the sparse blobs of
        lightly loaded shards under-state several times over."""
        cfg = self.config
        return (
            self.num_shards * self._num_buckets() * cfg.bucket_size
            * cfg.tag_dtype.itemsize
        )

    def _broadcast_guard(self, op: str) -> bool:
        """Broadcast-lane size guard. Collecting + broadcasting every
        shard only makes sense while the whole filter fits the driver
        and executors comfortably; past ``max_broadcast_bytes`` of
        broadcast state (:meth:`_broadcast_bytes`) the caller must
        take the shard-routed lane instead (state stays on
        executors). Returns True when the broadcast may proceed —
        always once a broadcast cache exists (the bytes are already
        shipped); on oversize it warns and returns False."""
        if self._bcast is not None:
            return True
        if not self.shards.is_cached:
            # cache the shard state so the broadcast collect (or the
            # routed fallback) reads the built filter instead of
            # rebuilding it after the size check
            self.persist()
        size = self._broadcast_bytes()
        if size <= self.max_broadcast_bytes:
            return True
        import warnings

        warnings.warn(
            f"{op}: filter state is {size >> 20} MiB to broadcast, over the "
            f"{self.max_broadcast_bytes >> 20} MiB broadcast guard; "
            "falling back to the shard-routed lane (raise "
            "max_broadcast_bytes to override)",
            RuntimeWarning,
            stacklevel=3,
        )
        return False

    # -- routed batch ops -------------------------------------------------

    def _route(self, queries: DataFrame, fn, schema: StructType) -> DataFrame:
        """Route query keys to their shard and run ``fn`` once per
        shard on its probe rows and shard row as Arrow tables (the
        ``applyInArrow`` cogroup contract) — the Spark
        expression of the reference's multisplit → all2all → local
        kernel round trip (``CuckooFilterMultiGPU.cuh:168-323``). Probe
        rows are the key and its shard id (``__shard``), as the
        reference ships only the keys; each shard kernel hashes them
        itself. Null keys all route to one shard group (``xxhash64`` of
        a null is its seed); ``fn`` must not answer them as keys."""
        key_col = self.key_col
        return (
            queries.select(key_col)
            .withColumn("__shard", shard_expr(key_col, self.num_shards))
            .groupBy("__shard")
            .cogroup(self.shards.groupBy(F.col("shard_id").alias("__shard")))
            .applyInArrow(fn, schema=schema)
        )

    def _routed(
        self, queries: DataFrame, op: str, out_col: str,
        res_spark_type=BooleanType(), res_np_dtype=bool,
    ) -> DataFrame:
        """Shard-routed batch query (``op`` is 'contains' or 'count').
        Results come back keyed, one flat Arrow row per probe (no order
        restoration needed — the reference restores input offsets
        because its API is positional; ours is relational). A null
        probe answers NULL."""
        key_col = self.key_col
        schema = StructType([
            StructField(key_col, LongType()), StructField(out_col, res_spark_type),
        ])

        def probe(left: pa.Table, right: pa.Table) -> pa.Table:
            keys = left.column(key_col)
            res = np.zeros(len(keys), dtype=res_np_dtype)
            if len(keys) and right.num_rows:
                flt = CuckooFilter.from_bytes(right.column("blob")[0].as_py())
                res = getattr(flt, op + "_many")(
                    keys_to_unsigned(keys.fill_null(0).to_numpy())
                )
            null = keys.is_null().to_numpy()
            return pa.table({key_col: keys, out_col: pa.array(res, mask=null)})

        return self._route(queries, probe, schema)

    def contains(self, queries: DataFrame, out_col: str = "member") -> DataFrame:
        """Batched membership, shard-routed (returns key → bool)."""
        return self._routed(queries, "contains", out_col)

    def _routed_with_columns(
        self, queries: DataFrame, key_col: str, out_col: str
    ) -> DataFrame:
        """Routed membership with the broadcast lanes' output shape
        (all query columns kept + out_col) — the oversize fallback:
        probe the distinct keys through the shard-routed lane, then
        left-join the answers back onto the full query rows, so a null
        key keeps its row and answers NULL."""
        probes = queries.select(
            F.col(key_col).alias(self.key_col)
        ).distinct()
        res = self._routed(probes, "contains", out_col)
        if self.key_col != key_col:
            res = res.withColumnRenamed(self.key_col, key_col)
        return queries.join(res, key_col, "left")

    def counts(self, queries: DataFrame, out_col: str = "count") -> DataFrame:
        """Batched exact counting query, shard-routed (key → stored
        multiplicity) — the counting-structure surface the reference
        benchmarks against GQF (``benchmark/fpr_benchmark.cu:
        294-348``, ``benchmark/kmer_benchmark.cu:259-355``): inserts
        are multiset (each duplicate occupies a slot), this returns
        the per-key instance count, and multiset deletes decrement
        it. Over-counts only on full fingerprint+bucket-pair
        collisions (probability ≈ the membership FPR)."""
        return self._routed(
            queries, "count", out_col,
            res_spark_type=LongType(), res_np_dtype=np.int64,
        )

    def _stacked_buckets(self) -> np.ndarray:
        """Collect every shard and stack their bucket arrays into ONE
        (num_shards*nb, bucket_size) array on the driver: shard s
        occupies bucket rows [s*nb, (s+1)*nb); absent shards stay
        empty."""
        cfg = self.config
        filters = {
            r.shard_id: CuckooFilter.from_bytes(bytes(r.blob))
            for r in self.shards.select("shard_id", "blob").collect()
        }
        nb = (
            next(iter(filters.values())).num_buckets if filters
            else self._num_buckets()
        )
        big = np.zeros(
            (self.num_shards * nb, cfg.bucket_size), dtype=cfg.tag_dtype
        )
        for sid, f in filters.items():
            if f.num_buckets != nb:
                raise ValueError("heterogeneous shard geometry")
            big[sid * nb : (sid + 1) * nb] = f.buckets
        return big

    def contains_broadcast(
        self, queries: DataFrame, key_col: str | None = None,
        out_col: str = "member",
    ) -> DataFrame:
        """Zero-shuffle membership: every shard's buckets are stacked
        into ONE table, broadcast, and each task answers a whole Arrow
        batch in a single vectorized pass, routing its keys to their
        shard locally (:func:`_stacked_probe_udf`, any bucket policy).
        The broadcast is built once and cached on the instance — shards
        are immutable (delete returns a NEW ShardedCuckooFilter). Use
        when the total filter size is broadcastable (it is whenever
        the merged filter would be); :meth:`contains` is the
        shuffle-routed alternative for filters too big to ship, and
        the lane this falls back to past :attr:`max_broadcast_bytes`.
        Appends `out_col` to the query DataFrame (all columns kept); a
        null key answers NULL.
        """
        key_col = key_col or self.key_col
        if not self._broadcast_guard("contains_broadcast"):
            return self._routed_with_columns(queries, key_col, out_col)
        if self._bcast is None:
            # stack ONCE on the driver; workers view the broadcast
            # bytes zero-copy, nothing O(filter-size) per task
            big = self._stacked_buckets()
            bc = queries.sparkSession.sparkContext.broadcast(big.tobytes())
            member = _stacked_probe_udf(
                bc, len(big) // self.num_shards, self.num_shards, self.config
            )
            self._bcast = (bc, member)
        return queries.withColumn(out_col, self._bcast[1](F.col(key_col)))

    def delete(
        self, deletes: DataFrame, per_key: bool = True
    ) -> tuple[DataFrame | None, "ShardedCuckooFilter"]:
        """Batched delete. Returns (per-key success DF, new filter).

        Functional update: produces a new shards DataFrame rather
        than mutating in place, so lineage/checkpointing stays
        consistent. One cogroup pass emits ONE row per shard —
        updated blob + metrics + the per-key outcomes packed as
        Arrow list columns — so the Python→JVM boundary carries
        num_shards rows, not num_keys rows (numpy→Arrow list
        conversion is vectorized; the old per-key pandas frame with
        nullable object columns dominated delete wall time). The
        per-key result DataFrame is recovered with a codegen'd
        explode, and persisting the cogroup output caches only the
        shard rows. Multiset semantics under every bucket policy. Null keys
        are dropped before routing, so they neither remove nor count.

        ``per_key=False`` mirrors the reference's delete contract
        exactly: ``deleteMany`` writes per-key outcomes into device
        memory that never leaves the GPU and returns only the scalar
        success count (``benchmark_common.cuh:287`` consumes just
        that scalar). Here the outcome array stays in the worker and
        only per-shard ``n_ok`` crosses to the JVM — measured at 16M
        keys/local[32], shipping the per-key Arrow list columns is
        ~half the delete wall time, so use this mode whenever the
        caller only needs the new filter + success count (returns
        ``(None, new_filter)``; read the count with
        :meth:`delete_success_count`)."""
        key_col = self.key_col

        fields = list(_SHARD_SCHEMA.fields) + [
            StructField("n_ok", LongType())
        ]
        if per_key:
            fields += [
                StructField("del_keys", ArrayType(LongType())),
                StructField("del_ok", ArrayType(BooleanType())),
            ]
        schema = StructType(fields)
        arrow_schema = to_arrow_schema(schema)

        def apply_delete(key, left: pa.Table, right: pa.Table) -> pa.Table:
            keys = left.column(key_col).to_numpy()
            if right.num_rows:
                flt = CuckooFilter.from_bytes(right.column("blob")[0].as_py())
                ok = flt.delete_many(keys_to_unsigned(keys))
                out = _shard_record(
                    key[0].as_py(), flt, right.column("rows")[0].as_py()
                )
            else:
                # keys routed to a shard that never existed: all
                # misses, no blob row (filtered out of new_shards below)
                ok = np.zeros(len(keys), dtype=bool)
                out = _shard_record(key[0].as_py(), None, 0)
            out["n_ok"] = [int(ok.sum())]
            if per_key:
                out["del_keys"] = [keys]
                out["del_ok"] = [ok]
            return pa.table(out, schema=arrow_schema)

        merged = self._route(
            deletes.filter(F.col(key_col).isNotNull()), apply_delete, schema
        ).persist()
        results = None
        if per_key:
            results = explode_lists(
                merged, {key_col: "del_keys", "ok": "del_ok"}
            )
        new_shards = merged.filter(F.col("blob").isNotNull()).select(
            *_SHARD_SCHEMA.names
        )
        # shard geometry is unchanged by deletes
        out = ShardedCuckooFilter(
            new_shards, self.num_shards, self.config, key_col,
            shard_num_buckets=self.shard_num_buckets,
        )
        out._delete_src = merged  # release() drops the persisted plan
        return results, out

    def delete_success_count(self) -> int:
        """Total successful removals from the delete that produced
        this filter — the Spark analogue of the reference's
        ``deleteMany`` return value (``CuckooFilter.cuh`` returns the
        remaining-occupancy count; ``benchmark_common.cuh:287``
        consumes only that scalar). Aggregates the per-shard ``n_ok``
        column, so it materializes the cogroup WITHOUT exploding the
        per-key result arrays; the per-key outcome DataFrame stays
        lazy for callers that need it."""
        if getattr(self, "_delete_src", None) is None:
            raise ValueError("this filter was not produced by delete()")
        return int(
            self._delete_src.agg(F.sum("n_ok")).collect()[0][0] or 0
        )

    def release(self) -> None:
        """Drop the cached resources backing this filter: the
        persisted delete plan (if this filter came from
        :meth:`delete`) and any broadcast state created by
        :meth:`contains_broadcast`."""
        src = getattr(self, "_delete_src", None)
        if src is not None:
            src.unpersist()
            self._delete_src = None
        if self._bcast is not None:
            self._bcast[0].unpersist()
            self._bcast = None

    # -- aggregates (CuckooFilterMultiGPU.cuh:520-592) --------------------

    def metrics(self) -> DataFrame:
        return self.shards.agg(
            F.sum("rows").alias("rows"),
            F.sum("inserted").alias("occupied"),
            F.sum("kicks").alias("kicks"),
            F.sum("failures").alias("failures"),
            F.count("*").alias("num_shards"),
        )

    def total_occupied(self) -> int:
        """Parallel-sum of shard occupancy
        (``CuckooFilterMultiGPU.cuh:558-565``)."""
        return self.metrics().collect()[0]["occupied"]
