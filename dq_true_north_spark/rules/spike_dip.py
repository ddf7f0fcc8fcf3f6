"""Spike/dip rule — day-over-day percent change per segment.

Reference: execute_spike_dip_check (dq_rules_library.py:512-630):
lag(metric,1) per segment (:549), pct_change=(m-prev)/prev guarded by
isNotNull & prev!=0 (:551-556), every breach |pct| >= threshold → details
(:559-582), verdict from the LATEST row per segment only (:587-605).
Default threshold 0.50 (:538).
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import constants as C
from ..textquality.spec import round4_signed_col
from .base import RuleResult


def execute_spike_dip_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    metric = params["metric_column"]
    ts_col = params["timestamp_col"]
    segs = params.get("segment_columns", [])
    threshold = float(params.get("threshold", C.SPIKE_THRESHOLD))
    tiebreak = params.get("tiebreak_columns", [])
    order_cols = [ts_col] + tiebreak

    df = spark.table(src)
    w = Window.partitionBy(*segs).orderBy(*[F.col(c) for c in order_cols])
    lagged = df.withColumn("prev_value", F.lag(metric, 1).over(w))  # :549
    pct = (
        lagged.withColumn(
            "percent_change",
            F.when(
                F.col("prev_value").isNotNull() & (F.col("prev_value") != 0),
                (F.col(metric) - F.col("prev_value")) / F.col("prev_value"),
            ),                                                      # :551-556
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*segs).orderBy(
                    *[F.col(c).desc() for c in order_cols]
                )
            ),                                                      # :587-593
        )
    )
    breaches = pct.filter(F.abs(F.col("percent_change")) >= threshold)
    # verdict: latest point per segment only (:597-605), observed on the
    # same job that writes every breach
    latest = Observation()
    n_all = sink.append(
        breaches.observe(latest, F.count_if(F.col("rn") == 1).alias("n")).select(
            F.lit(rule["rule_name"]).alias("rule_name"),
            F.col(ts_col).cast("string").alias("event_date"),
            (F.to_json(F.struct(*segs)) if segs else F.lit("{}")).alias("segment_values"),
            # these display values carry SIGN (dips are negative) —
            # half-away-from-zero, not the +inf-biased floor-round4
            # (ADVICE r3 #3; same convention as negative_values)
            round4_signed_col(F.col(metric)).alias("metric_value"),
            round4_signed_col(F.col("prev_value")).alias("previous_metric_value"),
            round4_signed_col(F.col("percent_change")).alias("percent_change"),
        ),
        params.get("details_table", "dq_details_spike_dip"),
    )
    return RuleResult.from_count(latest.get["n"], all_breaches=n_all)
