"""Duplicate / uniqueness checks.

Reference: execute_duplicate_check (dq_rules_library.py:280-369) —
normalize columns (upper-case some, round some), groupBy all check columns,
keep groups with count > 1, JSON-pack group keys into the details table,
FAIL iff any group exists. The group count is the row count of the detail
write itself: one job, where the reference caches the frame and counts it
first.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .base import RuleResult


def execute_duplicate_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    cols = params["columns_to_check"]
    upper_cols = set(params.get("case_insensitive_columns", []))
    round_cols = params.get("numeric_columns_to_round", {})
    details_table = params.get("details_table", "dq_duplicate_details")

    df = spark.table(src)
    norm = []
    for c in cols:
        col = F.col(c)
        if c in upper_cols:
            col = F.upper(col)                     # dq_rules_library.py:310
        if c in round_cols:
            col = F.round(col, int(round_cols[c]))  # dq_rules_library.py:311-313
        norm.append(col.alias(c))

    groups = (
        df.select(*norm)
        .groupBy(*[F.col(c) for c in cols])
        .agg(F.count(F.lit(1)).alias("duplicate_count"))  # :318-321
        .filter(F.col("duplicate_count") > 1)
    )
    details = groups.select(
        F.lit(rule["rule_name"]).alias("rule_name"),
        # VARIANT object_construct (:331-336) → JSON string column
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("duplicate_values"),
        F.col("duplicate_count"),
    )
    return RuleResult.from_count(sink.append(details, details_table))
