"""Generic mergeable-sketch aggregation over DataFrames.

One pattern serves every sketch in the library (cuckoo, HLL,
Bloom, count-min, t-digest, KLL): per-partition vectorized build
inside ``mapInPandas`` (zero shuffle — Spark's partial-aggregation
shape, cf. the reference's block-reduce-then-atomic in
``CuckooFilter.cuh:1122-1140``), then an executor-side
``treeReduce`` of serialized states, exactly the mergeable-UDAF
contract the north_rule asks for. The grouped variant builds one
partial sketch per (partition, key) and merges each key's blobs via
``applyInPandas``.

All sketches expose ``add_many(np.ndarray)``, ``merge_in_place``,
``to_bytes``/``from_bytes``; keys are int64 columns (reinterpreted
to uint64) and value sketches take float64.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoo_filter_spark.hashing import keys_to_unsigned

#: executor-side merge tasks between the per-partition partials and
#: the driver in :func:`aggregate_sketch`
MERGE_FAN_IN = 8


def _column_values(pdf: pd.DataFrame, col: str, unsigned: bool) -> np.ndarray:
    if unsigned:
        return keys_to_unsigned(pdf[col].to_numpy(dtype=np.int64, copy=False))
    return pdf[col].to_numpy(dtype=np.float64, copy=False)


def aggregate_sketch(
    df: DataFrame,
    col: str,
    make_sketch: Callable[[], object],
    unsigned_keys: bool = True,
):
    """Build one sketch over df[col]: partial per partition, then a
    two-stage merge entirely in the DataFrame API — partial blobs
    are fanned into ``MERGE_FAN_IN`` executor-side merge tasks and
    only the ≤MERGE_FAN_IN survivors reach the driver. ONE Spark job
    (the old RDD ``treeReduce`` cost an extra job per level plus an
    ``isEmpty`` job and bypassed Arrow). Returns the final
    deserialized sketch object."""

    def partial(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = make_sketch()
        any_rows = False
        for pdf in iterator:
            vals = _column_values(pdf.dropna(subset=[col]), col, unsigned_keys)
            if len(vals):
                any_rows = True
                sk.add_many(vals)
        if any_rows:
            yield pd.DataFrame({"blob": [sk.to_bytes()]})

    proto = make_sketch()
    cls = type(proto)

    def merge_all(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in iterator:
            for b in pdf["blob"]:
                sk = cls.from_bytes(b)
                if acc is None:
                    acc = sk
                else:
                    acc.merge_in_place(sk)
        if acc is not None:
            yield pd.DataFrame({"blob": [acc.to_bytes()]})

    reduced = (
        df.select(col)
        .mapInPandas(partial, "blob binary")
        .repartition(MERGE_FAN_IN)
        .mapInPandas(merge_all, "blob binary")
        .collect()
    )
    if not reduced:
        return proto
    acc = cls.from_bytes(reduced[0].blob)
    for r in reduced[1:]:
        acc.merge_in_place(cls.from_bytes(r.blob))
    return acc


def grouped_sketch_partial(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    make_sketch: Callable[[], object],
    finisher: Callable[[object], dict],
    finisher_schema: str,
    unsigned_keys: bool = True,
    keyed: bool = False,
    sketch_cls: type | None = None,
) -> DataFrame:
    """Skew-proof grouped sketching (the north_rule's salted-
    repartition requirement, solved one better for mergeable state):
    stage 1 builds one partial sketch per (input partition, group)
    with NO shuffle — a hot group (30% of a 100 TB table) spreads
    over every input partition instead of landing on one task —
    and stage 2 shuffles only the tiny serialized blobs to merge
    per group. Same results as one sketch per whole group (merge
    associativity), different physical plan.

    With ``keyed=True``, ``make_sketch(key_tuple)`` is called with
    the group key (stringified values, one per group col) so each
    group gets its OWN geometry — e.g. a cuckoo filter sized from
    that group's cardinality instead of the largest group's. Only
    the per-group geometry must agree across partitions (it does:
    the factory is a pure function of the key), which is all the
    stage-2 merge needs; pass ``sketch_cls`` (the type whose
    ``from_bytes`` merges blobs) since no key-free prototype exists.
    """
    if keyed:
        if sketch_cls is None:
            raise ValueError("keyed=True requires sketch_cls")
        cls = sketch_cls
    else:
        cls = type(make_sketch())
    partial_schema = (
        ", ".join(f"{c} string" for c in group_cols) + ", blob binary"
    )
    out_schema = (
        ", ".join(f"{c} string" for c in group_cols) + ", " + finisher_schema
    )

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict = {}
        for pdf in it:
            pdf = pdf.dropna(subset=[col])
            for key, g in pdf.groupby(group_cols, sort=False):
                if not isinstance(key, tuple):
                    key = (key,)
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = (
                        make_sketch(tuple(str(k) for k in key))
                        if keyed
                        else make_sketch()
                    )
                sk.add_many(_column_values(g, col, unsigned_keys))
        for key, sk in sketches.items():
            row = {c: [str(k)] for c, k in zip(group_cols, key)}
            row["blob"] = [sk.to_bytes()]
            yield pd.DataFrame(row)

    partials = df.select(*group_cols, col).mapInPandas(
        partial, schema=partial_schema
    )

    def merge_group(key, pdf):
        sk = cls.from_bytes(pdf["blob"].iloc[0])
        for b in pdf["blob"].iloc[1:]:
            sk.merge_in_place(cls.from_bytes(b))
        row = {c: [k] for c, k in zip(group_cols, key)}
        row.update({k: [v] for k, v in finisher(sk).items()})
        return pd.DataFrame(row)

    return partials.groupBy(*group_cols).applyInPandas(
        merge_group, schema=out_schema
    )
