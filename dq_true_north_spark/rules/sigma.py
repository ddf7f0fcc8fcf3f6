"""σ-band anomaly rule — the pure-Spark replacement for the reference's
Cortex ML DETECT_ANOMALIES delegation (dq_rules_library.py:731-802), using
the dashboard's own band math: trailing rolling mean/stddev, anomaly iff
|x − avg| > k·σ (streamlit.py:1151-1153,1174-1178,1211-1213; SURVEY.md §2.1 #9).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .. import constants as C
from ..textquality.spec import round4_col, round4_signed_col
from .base import RuleResult


def execute_sigma_band_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    metric = params["metric_column"]
    date_col = params["date_column"]
    segs = params.get("segment_columns", [])
    k = float(params.get("sigma", C.SIGMA_BAND))
    w = int(params.get("window_size", C.ROLLING_WINDOW_DAYS))

    daily = (
        spark.table(src)
        .withColumn("_d", F.to_date(F.col(date_col)))
        .groupBy(*segs, "_d")
        .agg(F.sum(metric).alias("daily_total"))
    )
    # band window EXCLUDES the current row so a spike can't mask itself
    band = Window.partitionBy(*segs).orderBy("_d").rowsBetween(-(w - 1), -1)
    flagged = (
        daily.withColumn("avg_value", F.avg("daily_total").over(band))
        .withColumn("std_value", F.stddev_samp("daily_total").over(band))
        .withColumn(
            "is_anomaly",
            F.when(
                F.col("std_value").isNotNull()
                & (F.abs(F.col("daily_total") - F.col("avg_value")) > k * F.col("std_value")),
                1,
            ).otherwise(0),
        )
    )
    n = sink.append(                                              # :792-795
        flagged.filter(F.col("is_anomaly") == 1).select(
            F.lit(rule["rule_name"]).alias("rule_name"),
            (F.to_json(F.struct(*segs)) if segs else F.lit("{}")).alias("segment_values"),
            F.col("_d").cast("string").alias("event_date"),
            # metric/avg can be negative -> half-away-from-zero
            # (ADVICE r3 #3); stddev is non-negative by definition and
            # keeps the default floor-round4 convention
            round4_signed_col(F.col("daily_total")).alias("metric_value"),
            round4_signed_col(F.col("avg_value")).alias("avg_value"),
            round4_col(F.col("std_value")).alias("std_value"),
        ),
        params.get("details_table", "dq_anomaly_details"),
    )
    return RuleResult.from_count(n)
