"""Spike/dip rule — day-over-day percent change per segment.

Reference: execute_spike_dip_check (dq_rules_library.py:512-630):
lag(metric,1) per segment (:549), pct_change=(m-prev)/prev guarded by
isNotNull & prev!=0 (:551-556), every breach |pct| >= threshold → details
(:559-582), verdict from the LATEST row per segment only (:587-605).
Default threshold 0.50 (:538).
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .. import constants as C
from ..textquality.spec import SPARK, ident, json_cols, lit, round4_signed, str_t, table
from .base import RuleResult, cols, over

TABLE = "dq_details_spike_dip"


def render(d: str, rule: dict, params: dict, extra: str = "") -> str:
    """Every breach: the rows of the detail table, plus any ``extra``
    select items."""
    m = ident(d, params["metric_column"])
    ts = params["timestamp_col"]
    segs = params.get("segment_columns", [])
    order = [ts] + params.get("tiebreak_columns", [])
    threshold = float(params.get("threshold", C.SPIKE_THRESHOLD))
    # display values carry SIGN (dips are negative): half-away-from-zero,
    # not the +inf-biased floor-round4 (ADVICE r3 #3)
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name,
       CAST({ident(d, ts)} AS {str_t(d)}) AS event_date,
       {json_cols(d, segs)} AS segment_values,
       {round4_signed(m)} AS metric_value,
       {round4_signed('prev_value')} AS previous_metric_value,
       {round4_signed('percent_change')} AS percent_change{extra}
FROM (
  SELECT *, CASE WHEN prev_value IS NOT NULL AND prev_value <> 0
                 THEN ({m} - prev_value) / prev_value END AS percent_change
  FROM (
    SELECT {cols(d, segs + order + [params["metric_column"]])},
           LAG({m}, 1) {over(d, segs, order)} AS prev_value,
           ROW_NUMBER() {over(d, segs, order, desc=True)} AS rn
    FROM {table(d, params["source_table"])}) lagged) pct
WHERE abs(percent_change) >= CAST({threshold!r} AS DOUBLE)"""


def execute_spike_dip_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    # verdict: breaches on each segment's latest point (:597-605), observed
    # on the same job that writes every breach
    latest = Observation()
    breaches = spark.sql(render(SPARK, rule, params, ", rn = 1 AS is_latest"))
    sink.append(
        breaches.observe(latest, F.expr("count_if(is_latest)").alias("n")).drop("is_latest"),
        params.get("details_table", TABLE),
    )
    return RuleResult.from_count(latest.get["n"])
