"""Physical-plan introspection helpers.

The reference proves its optimizations by config (pushdown_filters,
with_enable_pruning — src/main.rs:126,131); we prove ours by inspecting the
executed plan.  Used by tests/test_plans.py and handy interactively:

    >>> from datafusion_test_spark.plans.introspect import summarize
    >>> print(summarize(df))
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates that reached the parquet scan (row-group pruning inputs)."""
    out: list[str] = []
    # NB: Spark elides long scan descriptions with "...", so the list may
    # lack its closing bracket — stop at "]" or at the next field.
    for m in re.finditer(
        r"PushedFilters: \[(.*?)(?:\]|\.\.\.|, ReadSchema)", plan_string(df)
    ):
        out += [p.strip() for p in m.group(1).split(",") if p.strip()]
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column-pruning proof)."""
    cols: list[str] = []
    # tolerate Spark's "..." elision of long scan descriptions
    for m in re.finditer(r"ReadSchema: struct<([^>]*?)(?:>|\.\.\.)", plan_string(df)):
        cols += [c.split(":")[0] for c in m.group(1).split(",") if c and ":" in c]
    return sorted(set(cols))


def join_strategies(df: DataFrame) -> list[str]:
    """Join operators in the physical plan, in appearance order."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan_string(df),
    )


def num_shuffles(df: DataFrame) -> int:
    """Exchange count — the scale-critical quantity to minimize."""
    return len(re.findall(r"Exchange (hash|range|rangepartitioning|RoundRobin|SinglePartition)", plan_string(df)))


def max_method_bytes(df: DataFrame) -> int:
    """Largest JVM method, in bytecode bytes, that whole-stage codegen emits
    for `df`'s plan, including the plans of cached relations it scans.
    HotSpot never JIT-compiles a method over 8,000 bytes
    (`DontCompileHugeMethods`), so a larger one runs interpreted per row.

    Compiles each WholeStageCodegenExec's source with CodeGenerator.compile
    (Spark's `debug.codegenStringSeq`) over the non-adaptive prepared plan —
    the one AQE starts from — so the figure is deterministic and belongs to
    this plan alone, unlike the session-wide sampled CodegenMetrics.
    """
    jvm = df.sparkSession._jvm.org.apache.spark.sql.execution
    session = df._jdf.sparkSession()
    seen: set[int] = set()  # cached plans by SparkPlan.id: walk each once

    def sizes(plan) -> list[int]:
        stages = jvm.debug.package.codegenStringSeq(plan)
        out = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.length())]
        leaves = plan.collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "InMemoryTableScanExec":
                cached = leaf.relation().cachedPlan()
                if cached.id() in seen:
                    continue
                seen.add(cached.id())
                if cached.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                    cached = jvm.QueryExecution.prepareExecutedPlan(
                        session, cached.inputPlan()
                    )
                out += sizes(cached)
        return out

    found = sizes(
        jvm.QueryExecution.prepareExecutedPlan(
            session, df._jdf.queryExecution().sparkPlan()
        )
    )
    if any(s < 0 for s in found):
        raise RuntimeError("a whole-stage codegen subtree failed to compile")
    return max(found, default=0)


def summarize(df: DataFrame) -> str:
    return (
        f"joins={join_strategies(df)} shuffles={num_shuffles(df)} "
        f"pushed={pushed_filters(df)} read={read_schema(df)}"
    )
