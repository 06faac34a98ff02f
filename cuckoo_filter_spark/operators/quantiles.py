"""Exact quantiles at scale: KLL bracket + one candidate pass.

A single-machine exact quantile sorts everything; a naive
distributed one (``ORDER BY`` + take) global-sorts 100 TB. The
two-pass plan here mirrors the heavy-hitters operator's shape —
a mergeable sketch narrows the problem, then an exact pass touches
only the narrowed slice:

1. **bracket pass**: a KLL sketch (map-only build + tiny fan-in,
   ``aggregate_sketch``) brackets each requested quantile with
   ``[lo, hi]`` value bounds at rank ``q ± slack·ε`` — the sketch's
   rank error ε guarantees the true quantile value lies inside;
2. **candidate pass**: ONE scan counts values below each bracket
   and collects the values inside it (≈ 2·slack·ε·n rows per
   quantile — pick the sketch's ``k`` so ε·n fits comfortably in
   one task's memory; ε shrinks as O(1/k)); the exact order
   statistic is read off JVM-side (``array_sort`` +
   ``element_at`` over the agg row) — only one scalar per
   requested quantile ever reaches the driver.

If a bracket misses (sketch error beyond the slack — possible but
exponentially unlikely), the pass retries with the slack doubled.

Result is EXACTLY the discrete lower quantile DuckDB's
``quantile_disc`` computes: the 0-based order statistic
``ceil(q*n) - 1``.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoo_filter_spark.core.kll import KLLSketch
from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

#: conservative rank-error constant for KLL at capacity k (ε ≈ c/k)
_EPS_C = 4.0


def _candidate_pass_df(
    vals: DataFrame,
    pending: dict[float, float],
    sk: KLLSketch,
    n: int,
    eps: float,
) -> DataFrame:
    """The flat path's single candidate-pass job as a DataFrame:
    per pending quantile, a below-bracket count plus the in-bracket
    candidate list, finished JVM-side (``array_sort`` +
    ``element_at`` over the one agg row) so the result row carries
    ONE nullable scalar per quantile — null means the bracket
    missed and the caller widens + retries. Exposed separately so
    the executed plan can be audited (scripts/dump_plans.py §13):
    partial agg → single-partition Exchange → final agg → scalar
    Project; candidate lists never leave the executors."""
    agg_exprs = []
    fin_exprs = []
    for i, (q, s) in enumerate(pending.items()):
        # open the bracket at the boundaries: the sketch's
        # extreme quantiles are not guaranteed to be the exact
        # min/max (compaction may drop extremes)
        ql, qh = q - s * eps, q + s * eps
        lo = float("-inf") if ql <= 0.0 else sk.quantile(ql)
        hi = float("inf") if qh >= 1.0 else sk.quantile(qh)
        agg_exprs.append(
            F.sum((F.col("v") < lo).cast("long")).alias(f"below{i}")
        )
        agg_exprs.append(
            F.array_sort(
                F.collect_list(
                    F.when((F.col("v") >= lo) & (F.col("v") <= hi),
                           F.col("v"))
                )
            ).alias(f"cand{i}")
        )
        idx = max(0, int(np.ceil(q * n)) - 1)
        below_c = F.coalesce(F.col(f"below{i}"), F.lit(0))
        hit = (below_c <= idx) & (
            F.lit(idx) < below_c + F.size(f"cand{i}")
        )
        fin_exprs.append(
            F.when(
                hit,
                # element_at is 1-based
                F.element_at(
                    F.col(f"cand{i}"),
                    (F.lit(idx) - below_c + 1).cast("int"),
                ),
            ).alias(f"val{i}")
        )
    return vals.agg(*agg_exprs).select(*fin_exprs)


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: Sequence[float],
    k: int = 2048,
    slack: float = 4.0,
    max_retries: int = 3,
) -> dict[float, float]:
    """Exact ``quantile_disc``-style quantiles of ``df[col]`` —
    returns {q: value} with value = the ``ceil(q*n)-1``-th order
    statistic (0-based)."""
    sk = aggregate_sketch(df, col, lambda: KLLSketch(k), unsigned_keys=False)
    n = sk.n
    if n == 0:
        raise ValueError("empty input")
    eps = _EPS_C / k
    out: dict[float, float] = {}
    vals = df.select(F.col(col).cast("double").alias("v")).dropna()
    pending = {q: slack for q in qs}
    for _ in range(max_retries + 1):
        if not pending:
            break
        # ONE scan resolves every pending quantile: per-q below-count
        # and in-bracket candidate list in a single aggregate, with
        # the order-statistic selection JVM-side (_candidate_pass_df)
        # — the driver collects one nullable scalar per quantile
        # (null = bracket miss).
        row = _candidate_pass_df(vals, pending, sk, n, eps).collect()[0]
        still = {}
        for i, (q, s) in enumerate(pending.items()):
            v = row[f"val{i}"]
            if v is not None:
                out[q] = v
            else:
                still[q] = s * 2.0  # bracket missed; widen and retry
        pending = still
    if pending:
        raise RuntimeError(
            f"quantile bracket failed for {sorted(pending)} after widening"
        )
    return out


def exact_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    qs: Sequence[float],
    k: int = 2048,
    slack: float = 4.0,
    max_retries: int = 3,
) -> DataFrame:
    """Per-group exact ``quantile_disc`` quantiles — the grouped
    generalization of :func:`exact_quantiles`.

    Nothing O(groups) touches the driver:

    1. per-partition per-group KLL partials (``mapInPandas``, no
       shuffle of raw values — a hot group spreads over every input
       partition);
    2. blob-only shuffle by group; merge + bracket computation inside
       ``applyInPandas``, emitting a (g, q, level, lo, hi, n)
       *decision table* — one row per group × quantile × widening
       level, with every retry level pre-widened from the SAME
       merged sketch (so a bracket miss never re-runs the sketch
       stage);
    3. a candidate pass per level: join values with that level's
       brackets, aggregate per (g, q) — the below-bracket COUNT
       partial-aggs map-side and the candidate ``collect_list``
       drops out-of-bracket values map-side, so the Exchange carries
       only in-bracket values plus counters — then the exact order
       statistic is read off JVM-side with ``array_sort`` +
       ``element_at`` (no candidate list ever reaches the driver).

    The driver orchestrates retries only: it collects the count of
    missed (g, q) pairs per level (a scalar), never the brackets,
    blobs, or candidates. Returns ``(group, q, value)``."""
    from typing import Iterator

    import pandas as pd

    gtype = df.schema[group_col].dataType.simpleString()
    vals = df.select(
        F.col(group_col).alias("g"), F.col(col).cast("double").alias("v")
    ).dropna()

    def partial(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        sks: dict = {}
        for pdf in it:
            for key, grp in pdf.groupby("g", sort=False):
                sk = sks.get(key)
                if sk is None:
                    sk = sks[key] = KLLSketch(k)
                sk.add_many(grp["v"].to_numpy(np.float64, copy=False))
        for key, sk in sks.items():
            yield pd.DataFrame({"g": [key], "blob": [sk.to_bytes()]})

    eps = _EPS_C / k
    qs_f = [float(q) for q in qs]
    n_levels = max_retries + 1

    def merge_and_bracket(key, pdf):
        sk = KLLSketch.from_bytes(pdf["blob"].iloc[0])
        for b in pdf["blob"].iloc[1:]:
            sk.merge_in_place(KLLSketch.from_bytes(b))
        rows = []
        for q in qs_f:
            s = slack
            for level in range(n_levels):
                ql, qh = q - s * eps, q + s * eps
                lo = float("-inf") if ql <= 0.0 else sk.quantile(ql)
                hi = float("inf") if qh >= 1.0 else sk.quantile(qh)
                rows.append((key[0], q, level, lo, hi, sk.n))
                s *= 2.0
        return pd.DataFrame(
            rows, columns=["g", "q", "level", "lo", "hi", "n"]
        )

    brackets = (
        vals.mapInPandas(partial, f"g {gtype}, blob binary")
        .groupBy("g")
        .applyInPandas(
            merge_and_bracket,
            schema=f"g {gtype}, q double, level int, lo double, hi double, "
                   "n long",
        )
        .persist()
    )

    # the exact 0-based order statistic ceil(q*n)-1, computed and
    # selected entirely JVM-side
    idx_expr = F.greatest(
        F.lit(0), F.ceil(F.col("q") * F.col("n")).cast("long") - 1
    )

    def candidate_pass(br: DataFrame) -> DataFrame:
        agg = (
            vals.join(br, "g")
            .groupBy("g", "q", "n")
            .agg(
                F.sum((F.col("v") < F.col("lo")).cast("long")).alias("below"),
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (F.col("v") >= F.col("lo"))
                            & (F.col("v") <= F.col("hi")),
                            F.col("v"),
                        )
                    )
                ).alias("cand"),
            )
            .withColumn("below", F.coalesce(F.col("below"), F.lit(0)))
            .withColumn("idx", idx_expr)
        )
        return agg.select(
            "g", "q",
            F.when(
                (F.col("below") <= F.col("idx"))
                & (F.col("idx") < F.col("below") + F.size("cand")),
                # element_at is 1-based
                F.element_at(
                    F.col("cand"),
                    (F.col("idx") - F.col("below") + 1).cast("int"),
                ),
            ).alias("value"),
        )

    pinned = [brackets]
    results = candidate_pass(brackets.filter(F.col("level") == 0)).persist()
    results.count()  # materialize before checking misses
    pinned.append(results)
    for level in range(1, n_levels):
        misses = results.filter(F.col("value").isNull()).select("g", "q")
        if misses.isEmpty():
            break
        retry_br = brackets.filter(F.col("level") == level).join(
            misses, ["g", "q"]
        )
        retried = candidate_pass(retry_br).persist()
        retried.count()
        pinned.append(retried)
        results = results.filter(F.col("value").isNotNull()).unionByName(
            retried
        )
    failed = not results.filter(F.col("value").isNull()).isEmpty()
    # the result is groups x quantiles rows — checkpoint that small
    # table so every intermediate (brackets, per-level passes) can be
    # dropped without invalidating the returned plan
    final = results.localCheckpoint(eager=True)
    for df_ in pinned:
        df_.unpersist()
    if failed:
        raise RuntimeError(
            "grouped quantile bracket failed after widening "
            f"{max_retries} times"
        )
    return final.select(
        F.col("g").alias(group_col), "q", "value"
    )
