"""Physical-plan introspection — the engine's scale-readiness checks.

The 100 TB contract for every operator: filters reach the parquet scan
(PushedFilters), partition predicates prune directories
(PartitionFilters), small dims broadcast, and expression pipelines stay
inside whole-stage codegen. These helpers turn those properties into
assertable facts for tests and the plan-audit tool
(tools/audit_plans.py), instead of hoping `.explain()` looked right once.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    # default 100-char metadata truncation cuts filter lists mid-bracket
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "8192")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Data filters pushed into the parquet reader (row-group skipping)."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Directory-level partition predicates (locality-group pruning)."""
    out = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def file_scan_count(df: DataFrame) -> int:
    """File scans of the physical plan: one per parquet relation, however
    many leg dirs it reads."""
    return len(re.findall(r"\bFileScan ", physical_plan(df)))


def codegen_compile_count(spark) -> int:
    """Whole-stage and expression classes the driver JVM has compiled so
    far (Janino), from ``CodegenMetrics``. The difference across a block
    of queries is how many of them missed Spark's codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of *shuffle* exchanges — the scale cost driver.

    BroadcastExchange is excluded: replicating a small dim is the cheap
    alternative we're counting in favor of. ReusedExchange is excluded:
    it reads a shuffle another branch already materialized (ReuseExchange
    dedup) — no second shuffle write happens.
    """
    return len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange ", physical_plan(df)))


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """How many codegen stages the plan compiled to (wider = better).

    Under AQE the pre-execution plan prints as a non-final
    ``AdaptiveSparkPlan`` with NO ``*(n)`` codegen markers — counting on
    it silently reports 0 for every query (the bug this fixes). The
    probe re-plans with AQE off just for the explain, which exposes the
    codegen stage numbering Catalyst would compile; AQE re-optimizes
    exchanges at runtime but does not change what is codegen-able."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # select("*") mints a fresh QueryExecution: the original df may
        # already hold a lazily-cached AQE plan from an earlier metric
        plan = df.select("*")._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Columns each parquet scan actually reads (column pruning check)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)", physical_plan(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if ":" in c]
        out.append(cols)
    return out


def audit(df: DataFrame) -> dict:
    """One-call summary of the plan's scale properties."""
    return {
        "pushed_filters": pushed_filters(df),
        "partition_filters": partition_filters(df),
        "broadcast_join": has_broadcast_join(df),
        "shuffles": shuffle_count(df),
        "file_scans": file_scan_count(df),
        "codegen_stages": whole_stage_codegen_spans(df),
        "read_schemas": read_schema_columns(df),
    }
