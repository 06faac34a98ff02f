"""Physical-plan audit over every contract query.

PLANS.md documents the plans we want at 100x scale; this test makes
those claims regression-checked instead of aspirational. For each
``queries()`` entry the EXECUTED plan (what Catalyst actually chose,
post-AQE planning) must be free of shapes that are correct at sf0.001
but melt down on a 1000-executor cluster:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: all-pairs work.
  Candidate generation must come from banding/bucketing joins
  (VERDICT r01 flagged the ngram-Jaccard crossJoin; this pins the fix).
- A pandas group-apply fed by a single-partition exchange: the whole
  input lands in ONE task (VERDICT r01 flagged cosine_pairs_ge's
  ``groupBy(lit(0))``). Single-partition exchanges feeding ordinary
  aggregations (1-row bound results) are fine and are not flagged.
"""

import re

import pytest

import __spark_entry__ as entry_mod

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# a FlatMap(Co)Groups(InPandas|InArrow) whose input exchange is
# SinglePartition == all rows in one python task
_SINGLE_GROUP = re.compile(
    r"FlatMap(?:Co)?Groups?In(?:Pandas|Arrow)[^\n]*\n"
    r"(?:[^\n]*\n){0,3}?[^\n]*Exchange SinglePartition"
)


def _plan_string(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("extended")
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_plan_has_no_scale_killers(spark, sf_dir, name):
    df = entry_mod.queries()[name](spark, sf_dir)
    plan = _plan_string(df)
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name}: plan contains {bad}"
    m = _SINGLE_GROUP.search(plan)
    assert m is None, (
        f"{name}: pandas group-apply fed by a single-partition "
        f"exchange (whole input in one task):\n{m.group(0)}"
    )


# ---------------------------------------------------------------------------
# plan shape of the benchmarked sharded-filter ops
# ---------------------------------------------------------------------------


def _executed_plan(df) -> str:
    """Physical plan of a not-yet-executed DataFrame (one tree: AQE
    prints its initial and final plans only after execution)."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def shape_filter(spark, tmp_path_factory):
    """The probe keys and, per bucket policy, a bucketed table and its
    config."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.config import CuckooConfig
    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = spark.range(0, 4000).select((F.col("id") * 7919).alias("key"))
    tables = {}
    for policy in ("xor", "addsub", "offset"):
        cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
        path = str(tmp_path_factory.mktemp(f"plan_shape_{policy}") / "bucketed")
        ShardedCuckooFilter.write_bucketed_keys(keys, "key", 6000, 4, path, cfg)
        tables[policy] = (path, cfg)
    return keys, tables


def _shape_op(spark, keys, path, cfg, op):
    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    if op == "build_bucketed":
        return ShardedCuckooFilter.build_bucketed(
            spark.read.parquet(path), 6000, 4, cfg, path=path
        ).shards
    filt = ShardedCuckooFilter.build(keys, "key", 6000, 4, cfg)
    if op == "build":
        return filt.shards
    if op == "contains_broadcast":
        return filt.contains_broadcast(keys, "key")
    if op == "contains":
        return filt.contains(keys)
    _, after = filt.delete(keys, per_key=False)
    return after._delete_src


@pytest.mark.parametrize(
    "op",
    ["build", "build_bucketed", "contains_broadcast", "contains", "delete"],
)
def test_sharded_op_plan_shape(spark, shape_filter, op):
    """The executed plan of each benchmarked sharded-filter op keeps
    its shape under every bucket policy: the shuffled build is one
    hash Exchange feeding the Arrow placement stage, the bucketed build
    and the broadcast probe (an Arrow UDF) move no rows, and the routed
    ops are one Arrow co-grouped apply whose flat rows need no
    explode."""
    keys, tables = shape_filter
    for policy, (path, cfg) in tables.items():
        plan = _executed_plan(_shape_op(spark, keys, path, cfg, op))
        msg = f"{policy}:\n{plan}"
        if op == "build":
            assert plan.count("Exchange hashpartitioning") == 1, msg
            assert re.search(
                r"MapInArrow[^\n]*\n\s*\+- Exchange hashpartitioning", plan
            ), msg
        elif op == "build_bucketed":
            assert "Exchange" not in plan and "MapInArrow" in plan, msg
        elif op == "contains_broadcast":
            assert "Exchange" not in plan and "ArrowEvalPython" in plan, msg
        else:
            assert plan.count("FlatMapCoGroupsInArrow") == 1, msg
            assert "FlatMapCoGroupsInPandas" not in plan, msg
            if op == "contains":
                assert "Generate" not in plan, msg
