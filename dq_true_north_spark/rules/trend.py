"""Sustained-trend rule — gaps-and-islands streak detection.

Reference: execute_snowpark_func_rule (dq_rules_library.py:1153-1203):
lag → is_increasing flag → trend-group id as running sum of group starts →
groupBy(segments, group_id).count() → FAIL iff any streak >= threshold
(:1176-1180,1195).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .. import constants as C
from .base import RuleResult


def execute_sustained_trend_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    metric = params["metric_column"]
    ts_col = params["timestamp_col"]
    segs = params.get("segment_columns", [])
    threshold = int(params.get("trend_days_threshold", C.TREND_DAYS_THRESHOLD))
    order_cols = [ts_col] + params.get("tiebreak_columns", [])

    w = Window.partitionBy(*segs).orderBy(*[F.col(c) for c in order_cols])
    run = w.rowsBetween(Window.unboundedPreceding, 0)

    df = spark.table(src)
    streaks = (
        df.withColumn("prev_value", F.lag(metric, 1).over(w))     # :1176
        .withColumn(
            "is_increasing",
            F.when(
                F.col("prev_value").isNotNull() & (F.col(metric) > F.col("prev_value")), 1
            ).otherwise(0),                                       # :1177
        )
        .withColumn(
            "trend_group_id",
            F.sum(F.when(F.col("is_increasing") == 0, 1).otherwise(0)).over(run),  # :1178
        )
        # reference filters the non-increasing group-start row BEFORE the
        # groupBy (:1179), so trend_length counts only the increasing rows
        .filter(F.col("is_increasing") == 1)
        .groupBy(*segs, "trend_group_id")
        .agg(F.count(F.lit(1)).alias("trend_length"))             # :1179
        .filter(F.col("trend_length") >= threshold)               # :1180
    )
    n = sink.append(
        streaks.select(
            F.lit(rule["rule_name"]).alias("rule_name"),
            F.lit(",".join(segs)).alias("segment_columns"),
            (F.to_json(F.struct(*segs)) if segs else F.lit("{}")).alias("segment_values"),
            F.col("trend_length"),
        ),
        params.get("details_table", "dq_sustained_trend_details"),
    )
    return RuleResult.from_count(n)
