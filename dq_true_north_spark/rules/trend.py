"""Sustained-trend rule — gaps-and-islands streak detection.

Reference: execute_snowpark_func_rule (dq_rules_library.py:1153-1203):
lag → is_increasing flag → trend-group id as running sum of group starts →
groupBy(segments, group_id).count() → FAIL iff any streak >= threshold
(:1176-1180,1195).
"""

from __future__ import annotations

from .. import constants as C
from ..textquality.spec import ident, json_cols, lit, table
from .base import RuleResult, append_rendered, cols, over

TABLE = "dq_sustained_trend_details"


def render(d: str, rule: dict, params: dict) -> str:
    m = ident(d, params["metric_column"])
    segs = params.get("segment_columns", [])
    order = [params["timestamp_col"]] + params.get("tiebreak_columns", [])
    threshold = int(params.get("trend_days_threshold", C.TREND_DAYS_THRESHOLD))
    run = over(d, segs, order, frame="ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    keys = cols(d, segs + ["trend_group_id"])
    # the reference filters the non-increasing group-start row BEFORE the
    # groupBy (:1179), so trend_length counts only the increasing rows
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name,
       {lit(d, ",".join(segs))} AS segment_columns,
       {json_cols(d, segs)} AS segment_values,
       trend_length
FROM (
  SELECT {keys}, COUNT(1) AS trend_length
  FROM (
    SELECT *, SUM(CASE WHEN is_increasing = 0 THEN 1 ELSE 0 END) {run} AS trend_group_id
    FROM (
      SELECT *, CASE WHEN prev_value IS NOT NULL AND {m} > prev_value
                     THEN 1 ELSE 0 END AS is_increasing
      FROM (
        SELECT {cols(d, segs + order + [params["metric_column"]])},
               LAG({m}, 1) {over(d, segs, order)} AS prev_value
        FROM {table(d, params["source_table"])}) lagged) marked) grouped
  WHERE is_increasing = 1
  GROUP BY {keys}
  HAVING COUNT(1) >= {threshold}) streaks"""


def execute_sustained_trend_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    return RuleResult.from_count(append_rendered(spark, render, rule, params, sink, TABLE))
