"""Structured Streaming integration.

The reference is batch-only; its IPC server capability (a
long-lived filter answering query streams,
``CuckooFilterIPC.cuh``) maps naturally onto Structured Streaming:
a built filter is broadcast once and a key stream is annotated /
filtered continuously. Stream-side dedup uses watermarked
dropDuplicates (exact, state-bounded) — the streaming complement
of the batch dedup operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoo_filter_spark.operators.membership import DistributedCuckooFilter

#: stream-op output rows carry at most this many keys per Arrow list:
#: one row per shard and input chunk is fine at 10^5 keys/shard, but
#: at genome scale (10^7+ keys/shard) a single multi-megaword array
#: row stresses the JVM GC (GCLocker retries were observed with such
#: rows at 2^28 slots) — chunked rows explode to the same relation
STREAM_CHUNK_ROWS = 1 << 20


def pack_lists(lists: dict, chunk_rows: int, **scalars) -> pd.DataFrame:
    """Per-row numpy results as list-column rows: each array of
    ``lists`` is cut into chunks of ``chunk_rows`` (callers pass
    :data:`STREAM_CHUNK_ROWS` as read when the plan is built), one row
    per chunk, and each ``scalars`` value repeats on every row. The
    Python→JVM boundary of ``applyInPandasWithState``, which has no
    Arrow form, then carries a row per chunk, not per key;
    :func:`~cuckoo_filter_spark.operators.membership.explode_lists`
    restores the flat relation JVM-side."""
    n = len(next(iter(lists.values())))
    bounds = range(0, n, chunk_rows)
    # dtype=object, NOT the float64 pandas default for empty columns:
    # Arrow cannot convert float64 to a list output type (hit whenever
    # a shard receives zero keys)
    out = {
        name: pd.Series([a[lo: lo + chunk_rows] for lo in bounds], dtype=object)
        for name, a in lists.items()
    }
    for name, value in scalars.items():
        out[name] = np.full(len(bounds), value)
    return pd.DataFrame(out)


def stream_membership(
    stream_df: DataFrame,
    filt: DistributedCuckooFilter,
    key_col: str,
    out_col: str = "member",
) -> DataFrame:
    """Annotate a streaming DataFrame with cuckoo membership. The
    filter's bucket table is broadcast once; the same vectorized probe
    used in batch runs per micro-batch (stateless, so any output
    mode works)."""
    return filt.contains(stream_df, key_col, out_col)


def stream_novel_keys(
    stream_df: DataFrame,
    filt: DistributedCuckooFilter,
    key_col: str,
) -> DataFrame:
    """Pass through only keys NOT present in the filter — the
    classic 'have we seen this content before' gate in ingestion
    pipelines (membership false → definitely novel, no FN risk;
    FP rate drops a small ε of novel keys)."""
    annotated = stream_membership(stream_df, filt, key_col, "__member")
    return annotated.filter(~F.col("__member")).drop("__member")


def _sharded_state_stream(
    stream_df: DataFrame, key_col: str, capacity: int, num_shards: int,
    config, out_schema, step,
):
    """The state plumbing both stateful cuckoo stream ops share: rows
    with a non-null key go to ``shard_expr`` groups, each group's state
    is one ``blob binary`` row holding its shard ``CuckooFilter`` (new
    when absent), and ``step(flt, pdfs)``
    yields, per input chunk of one micro-batch, a tuple of per-row
    arrays for the ``out_schema`` fields other than ``shard`` while it
    mutates ``flt``. Each tuple crosses to the JVM as list-column rows
    (``pack_lists``) that are exploded there into ``out_schema``."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, BinaryType, LongType, StructField, StructType,
    )

    from cuckoo_filter_spark.config import CuckooConfig
    from cuckoo_filter_spark.core.cuckoo import CuckooFilter
    from cuckoo_filter_spark.operators.membership import (
        explode_lists, per_shard_capacity, shard_expr,
    )

    per_shard_cap = per_shard_capacity(capacity, num_shards)
    cfg = config or CuckooConfig()
    state_schema = StructType([StructField("blob", BinaryType())])
    lists = [f for f in out_schema.fields if f.name != "shard"]
    pack_schema = StructType([StructField("shard", LongType())] + [
        StructField(f.name, ArrayType(f.dataType)) for f in lists
    ])
    names = [f.name for f in lists]
    chunk_rows = STREAM_CHUNK_ROWS

    def update(key, pdfs, state: GroupState):
        if state.exists:
            flt = CuckooFilter.from_bytes(bytes(state.get[0]))
        else:
            flt = CuckooFilter(per_shard_cap, cfg)
        shard_id = int(key[0])
        for arrays in step(flt, pdfs):
            yield pack_lists(dict(zip(names, arrays)), chunk_rows,
                             shard=shard_id)
        state.update((flt.to_bytes(),))

    packed = (
        stream_df.filter(F.col(key_col).isNotNull())
        .withColumn("__shard", shard_expr(key_col, num_shards))
        .groupBy("__shard")
        .applyInPandasWithState(
            update, pack_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return explode_lists(packed, {n: n for n in out_schema.names})


def stream_build_sharded(
    stream_df: DataFrame,
    key_col: str,
    capacity: int,
    num_shards: int,
    config=None,
):
    """Stateful streaming filter build — the custom-stateful-operator
    path (``applyInPandasWithState``): group state holds one cuckoo
    filter blob per shard; every micro-batch inserts its shard's
    novel keys and emits ``(key, shard, fresh)`` where ``fresh`` is
    True for the first sighting of a key (set semantics: duplicates
    and hash false-positives gate as seen). Rows with a null key are
    dropped. This is the streaming
    complement of ``ShardedCuckooFilter.build`` — state never leaves
    the executors and is checkpointed by the streaming engine. Each
    shard's state is a ``CuckooFilter`` of ``config.bucket_policy``, as
    in :func:`stream_apply_ops`.
    """
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    from cuckoo_filter_spark.hashing import keys_to_unsigned

    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("shard", LongType()),
        StructField("fresh", BooleanType()),
    ])

    def step(flt, pdfs):
        for pdf in pdfs:
            raw = pdf[key_col].to_numpy(np.int64, copy=False)
            keys = keys_to_unsigned(raw)
            seen = flt.contains_many(keys)
            fresh = ~seen
            novel = np.flatnonzero(fresh)
            if novel.size:
                # set semantics: one stored instance per distinct key;
                # intra-batch duplicates gate on the first occurrence
                uniq, first = np.unique(keys[novel], return_index=True)
                flt.insert_many(uniq)
                mask = np.zeros(len(novel), dtype=bool)
                mask[first] = True
                fresh[novel[~mask]] = False
            yield raw, fresh

    return _sharded_state_stream(
        stream_df, key_col, capacity, num_shards, config, out_schema, step,
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked exact dedup: duplicates arriving within the
    watermark horizon are dropped exactly and state is evicted past
    it (``dropDuplicatesWithinWatermark``, Spark 3.5+)."""
    return stream_df.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(key_cols)


def stream_sketch_window(
    stream_df: DataFrame,
    event_time_col: str,
    key_col: str,
    window_duration: str = "1 minute",
    watermark: str = "10 seconds",
    make_sketch=None,
    finisher=None,
    finisher_schema: str | None = None,
):
    """Watermarked per-window sketch rollup — one mergeable sketch
    per event-time tumbling window, finalized by the watermark
    (the streaming complement of ``grouped_sketch_partial``; state pattern
    cf. the long-lived IPC filter, ``CuckooFilterIPC.cuh:190-199``).

    The sketch and its output columns are pluggable like
    ``grouped_sketch_partial``'s: the default is an HLL p=14 emitting
    ``distinct_est``; pass ``make_sketch`` plus a ``finisher``
    (sketch → {col: value}) and ``finisher_schema`` (DDL string) for
    any other sketch — e.g. a Misra-Gries summary emitting the
    window's trending heavy hitters.

    One sketch per window lives in ``applyInPandasWithState`` group
    state; each micro-batch folds its rows in, and the window emits
    exactly one final row ``(window_start, window_end, n_rows,
    <finisher cols>)`` when the event-time watermark passes the
    window end (EventTimeTimeout). Late rows beyond the watermark
    are dropped by the engine before reaching state, so state is
    bounded by the number of open windows — not by key cardinality,
    which is the point of the sketch at 100 TB/day rates.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from cuckoo_filter_spark.core.hll import HyperLogLog
    from cuckoo_filter_spark.hashing import keys_to_unsigned

    factory = make_sketch or (lambda: HyperLogLog(p=14))
    if finisher is None:
        finisher = lambda sk: {"distinct_est": int(round(sk.estimate()))}
        finisher_schema = "distinct_est long"
    elif finisher_schema is None:
        raise ValueError("finisher requires finisher_schema")
    proto = factory()
    cls = type(proto)
    finish_fields = StructType.fromDDL(finisher_schema).fields
    out_schema = StructType([
        StructField("window_start_epoch", LongType()),
        StructField("window_end_epoch", LongType()),
        StructField("n_rows", LongType()),
        *finish_fields,
    ])
    state_schema = StructType([
        StructField("blob", BinaryType()),
        StructField("n_rows", LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        # key = (window struct, start_epoch, end_epoch). The struct's
        # timestamps arrive session-timezone-naive, and re-interpreting
        # them in Python (pd.Timestamp(...).timestamp() assumes UTC)
        # would offset the timeout by the zone — premature/duplicate
        # window emission west of UTC, hours-late east of it. The
        # epochs are computed JVM-side (F.unix_timestamp) so Python
        # never re-interprets a naive timestamp.
        ws_epoch, we_epoch = int(key[1]), int(key[2])
        if state.hasTimedOut:
            blob, n_rows = state.get
            sk = cls.from_bytes(bytes(blob))
            state.remove()
            row = {
                "window_start_epoch": [ws_epoch],
                "window_end_epoch": [we_epoch],
                "n_rows": [int(n_rows)],
            }
            row.update({k: [v] for k, v in finisher(sk).items()})
            yield pd.DataFrame(row)
            return
        if state.exists:
            blob, n_rows = state.get
            sk = cls.from_bytes(bytes(blob))
            n_rows = int(n_rows)
        else:
            sk, n_rows = factory(), 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            raw = pdf[key_col].to_numpy(np.int64, copy=False)
            sk.add_many(keys_to_unsigned(raw))
            n_rows += len(raw)
        state.update((sk.to_bytes(), n_rows))
        # finalize when the watermark passes the window end
        state.setTimeoutTimestamp(we_epoch * 1000)

    win = F.window(F.col(event_time_col), window_duration)
    return (
        stream_df.withWatermark(event_time_col, watermark)
        # group by the window STRUCT — it inherits the watermark tag
        # from the event-time column, which EventTimeTimeout requires —
        # plus its JVM-computed unix epochs (timezone-unambiguous)
        .withColumn("__w", win)
        .withColumn("__ws", F.unix_timestamp(F.col("__w.start")))
        .withColumn("__we", F.unix_timestamp(F.col("__w.end")))
        .select("__w", "__ws", "__we", key_col)
        .groupBy("__w", "__ws", "__we")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        # back to timestamps JVM-side — same external schema as before
        .select(
            F.timestamp_seconds(F.col("window_start_epoch")).alias(
                "window_start"
            ),
            F.timestamp_seconds(F.col("window_end_epoch")).alias("window_end"),
            "n_rows",
            *[f.name for f in finish_fields],
        )
    )


def stream_apply_ops(
    stream_df: DataFrame,
    key_col: str,
    op_col: str,
    capacity: int,
    num_shards: int,
    config=None,
    seq_col: str | None = None,
):
    """Stateful streaming application of a mixed insert/delete op
    stream — the full reference op set (``insertMany`` /
    ``deleteMany``, multiset semantics) against long-lived sharded
    filter state (``applyInPandasWithState``). Input rows are
    ``(key, op)`` with op in {'insert','delete'}; output is
    ``(key, op, shard, ok)``. A row whose op is anything else
    (another case, a typo, null) leaves the filter untouched and
    comes back ``ok = false``; a row with a null key is dropped.

    Ordering: ops for one shard are applied in the order they are
    DELIVERED to the state function. When a micro-batch's ops for
    one key span several source partitions, the shuffle into the
    shard group interleaves them nondeterministically — like any
    distributed queue, cross-partition order is undefined. Pass
    ``seq_col`` (an event sequence number / timestamp) to impose a
    deterministic total order per shard: the batch is then sorted by
    it before applying, so insert-then-delete of the same key in one
    micro-batch behaves exactly like the sequential reference calls
    regardless of partition layout. Consecutive same-op runs are
    applied as one vectorized kernel call either way.

    Each shard's state is a
    :class:`~cuckoo_filter_spark.core.cuckoo.CuckooFilter` of
    ``config.bucket_policy``, as for ``ShardedCuckooFilter``, so all
    three bucket policies share the same streaming surface."""
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from cuckoo_filter_spark.hashing import keys_to_unsigned

    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("op", StringType()),
        StructField("shard", LongType()),
        StructField("ok", BooleanType()),
    ])

    def _apply(flt, raw, ops):
        keys = keys_to_unsigned(raw)
        ok = np.zeros(len(raw), dtype=bool)
        # apply consecutive same-op runs as one kernel call
        bounds = np.flatnonzero(np.r_[True, ops[1:] != ops[:-1]])
        for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ops)]):
            seg = keys[b0:b1]
            if ops[b0] == "insert":
                ok[b0:b1] = flt.insert_many(seg)
            elif ops[b0] == "delete":
                ok[b0:b1] = flt.delete_many(seg)
        return ok

    def step(flt, pdfs):
        frames = (pdf for pdf in pdfs if len(pdf))
        if seq_col is not None:
            # deterministic total order: gather the shard's batch and
            # sort by the caller's sequence column before applying
            chunks = list(frames)
            frames = [
                pd.concat(chunks, ignore_index=True)
                .sort_values(seq_col, kind="stable", ignore_index=True)
            ] if chunks else []
        for pdf in frames:
            raw = pdf[key_col].to_numpy(np.int64, copy=False)
            ops = pdf[op_col].to_numpy()
            yield raw, ops, _apply(flt, raw, ops)

    return _sharded_state_stream(
        stream_df, key_col, capacity, num_shards, config, out_schema, step,
    )
