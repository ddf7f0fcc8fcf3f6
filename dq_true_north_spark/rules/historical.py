"""Historical completeness — rolling-window count consistency per dataset.

Reference: execute_historical_completeness_check (dq_rules_library.py:806-1150),
its largest rule. Semantics per dataset:
    expected = prev_cumulative − dropped_day + newest_day      (:1049)
    deviation_pct = |actual − expected| / expected             (:1054-1060)
    FAIL iff deviation_pct > tolerance (default 0.05, :831,1066)
with the window anchored at MAX(date) (the reference's data-lag fallback,
:874-918, made the primary anchor for determinism).

The reference issues 4 scalar SUM queries per dataset in a Python loop
(:931-1045) — O(datasets) scans. Rebuild: ONE groupBy(dataset) with four
conditional sums (F.sum(F.when(...))), a single pass whatever the dataset
count (SURVEY.md §2.1 #10).
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .. import constants as C
from ..textquality.spec import round4_col
from .base import RuleResult


def execute_historical_completeness_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    date_col = params["date_column"]
    dataset_col = params["dataset_column"]
    tol = float(params.get("tolerance_threshold", C.HIST_TOLERANCE))
    lb = int(params.get("lookback_days", C.HIST_LOOKBACK_DAYS))

    df = spark.table(src).withColumn("_d", F.to_date(F.col(date_col)))
    # the anchor is a scalar subquery of the main job, not an action of its
    # own before it
    md = df.agg(F.max("_d")).scalar()

    # Window anchors per the reference's max-date fallback (:893-905):
    # window_start = maxd − lb (actual is >= window_start, :1030-1032),
    # dropped_day = maxd − (lb+1) (:895), prev_cum = [window_start, maxd)
    # (:1007-1010). Deviation therefore equals dropped_day_count, so the
    # rule fires when the day that rolled out of the window carried more
    # than `tolerance` of it.
    agg = (
        df.groupBy(F.col(dataset_col).alias("dataset_name"))
        .agg(
            F.sum(F.when(F.col("_d") >= F.date_sub(md, lb), 1).otherwise(0)).alias("actual_count"),
            F.sum(
                F.when(
                    (F.col("_d") >= F.date_sub(md, lb)) & (F.col("_d") < md),
                    1,
                ).otherwise(0)
            ).alias("previous_cumulative_count"),
            F.sum(F.when(F.col("_d") == F.date_sub(md, lb + 1), 1).otherwise(0)).alias("dropped_day_count"),
            F.sum(F.when(F.col("_d") == md, 1).otherwise(0)).alias("newest_day_count"),
        )
        .withColumn(
            "expected_count",
            F.col("previous_cumulative_count") - F.col("dropped_day_count")
            + F.col("newest_day_count"),                          # :1049
        )
        .withColumn("deviation", F.col("actual_count") - F.col("expected_count"))
        .withColumn(
            "deviation_percentage",
            # shared floor-based round4 (spec.round4_col): native round()
            # is banned in anything a cross-engine consumer might compare
            # (CLAUDE.md invariant; round-2 ADVICE #3). Value is >= 0 by
            # abs(), where floor-round == the reference's HALF_UP exactly.
            round4_col(
                F.when(F.col("expected_count") == 0, F.lit(0.0))  # :1063-1067
                .otherwise(
                    F.abs(F.col("deviation").cast("double"))
                    / F.col("expected_count")
                )
            ),                                                    # :1054-1060
        )
        .withColumn(
            "status",
            F.when(
                F.when(F.col("expected_count") == 0, F.lit(0.0)).otherwise(
                    F.abs(F.col("deviation").cast("double"))
                    / F.col("expected_count")
                )
                > tol,
                F.lit("FAIL"),
            ).otherwise(F.lit("PASS")),
        )
    )
    breaches = Observation()                                      # :1066
    sink.append(
        agg.observe(breaches, F.count_if(F.col("status") == "FAIL").alias("n")).select(
            F.lit(rule["rule_id"]).alias("rule_id"),
            F.lit(rule["rule_name"]).alias("rule_name"),
            "dataset_name",
            md.cast("string").alias("data_date"),
            F.col("actual_count").alias("actual_60_day_count"),
            F.col("expected_count").alias("expected_60_day_count"),
            "deviation", "deviation_percentage",
            F.lit(tol).alias("tolerance_threshold"),
            "status", "dropped_day_count", "newest_day_count",
            "previous_cumulative_count",
        ),
        params.get("details_table", "dq_historical_completeness_details"),
    )
    return RuleResult.from_count(breaches.get["n"])
