from smoltable_spark.plans.explain import (
    physical_plan,
    optimized_plan,
    pushed_filters,
    partition_filters,
    has_broadcast_join,
    shuffle_count,
    file_scan_count,
    codegen_compile_count,
    whole_stage_codegen_spans,
    read_schema_columns,
    audit,
)

__all__ = [
    "physical_plan",
    "optimized_plan",
    "pushed_filters",
    "partition_filters",
    "has_broadcast_join",
    "shuffle_count",
    "file_scan_count",
    "codegen_compile_count",
    "whole_stage_codegen_spans",
    "read_schema_columns",
    "audit",
]
