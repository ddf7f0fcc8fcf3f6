"""σ-band anomaly rule — the pure-Spark replacement for the reference's
Cortex ML DETECT_ANOMALIES delegation (dq_rules_library.py:731-802), using
the dashboard's own band math: trailing rolling mean/stddev, anomaly iff
|x − avg| > k·σ (streamlit.py:1151-1153,1174-1178,1211-1213; SURVEY.md §2.1 #9).
"""

from __future__ import annotations

from .. import constants as C
from ..textquality.spec import ident, json_cols, lit, round4, round4_signed, str_t, table
from .base import RuleResult, append_rendered, cols, over

TABLE = "dq_anomaly_details"


def render(d: str, rule: dict, params: dict) -> str:
    segs = params.get("segment_columns", [])
    k = float(params.get("sigma", C.SIGMA_BAND))
    w = int(params.get("window_size", C.ROLLING_WINDOW_DAYS))
    # the band EXCLUDES the current row so a spike can't mask itself
    band = over(d, segs, ["_d"], frame=f"ROWS BETWEEN {w - 1} PRECEDING AND 1 PRECEDING")
    keys = cols(d, segs + ["_d"])
    # metric/avg can be negative -> half-away-from-zero (ADVICE r3 #3);
    # stddev is non-negative and keeps the default floor-round4
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name,
       {json_cols(d, segs)} AS segment_values,
       CAST(_d AS {str_t(d)}) AS event_date,
       {round4_signed('daily_total')} AS metric_value,
       {round4_signed('avg_value')} AS avg_value,
       {round4('std_value')} AS std_value
FROM (
  SELECT *, AVG(daily_total) {band} AS avg_value,
         STDDEV_SAMP(daily_total) {band} AS std_value
  FROM (
    SELECT {keys}, SUM({ident(d, params["metric_column"])}) AS daily_total
    FROM (SELECT {cols(d, segs + [params["metric_column"]])},
                 CAST({ident(d, params["date_column"])} AS DATE) AS _d
          FROM {table(d, params["source_table"])}) src
    GROUP BY {keys}) daily) banded
WHERE std_value IS NOT NULL
  AND abs(daily_total - avg_value) > CAST({k!r} AS DOUBLE) * std_value"""


def execute_sigma_band_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    return RuleResult.from_count(append_rendered(spark, render, rule, params, sink, TABLE))  # :792-795
