"""Historical completeness — rolling-window count consistency per dataset.

Reference: execute_historical_completeness_check (dq_rules_library.py:806-1150),
its largest rule. Semantics per dataset:
    expected = prev_cumulative − dropped_day + newest_day      (:1049)
    deviation_pct = |actual − expected| / expected             (:1054-1060)
    FAIL iff deviation_pct > tolerance (default 0.05, :831,1066)
with the window anchored at MAX(date) (the reference's data-lag fallback,
:874-918, made the primary anchor for determinism).

The reference issues 4 scalar SUM queries per dataset in a Python loop
(:931-1045) — O(datasets) scans. Rebuild: ONE GROUP BY dataset with four
conditional sums, a single pass whatever the dataset count (SURVEY.md §2.1
#10).
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .. import constants as C
from ..textquality.spec import SPARK, date_sub, ident, lit, round4, str_t, table
from .base import RuleResult, newest_date

TABLE = "dq_historical_completeness_details"


def render(d: str, rule: dict, params: dict) -> str:
    src = table(d, params["source_table"])
    day = f"CAST({ident(d, params['date_column'])} AS DATE)"
    dataset = ident(d, params["dataset_column"])
    tol = f"CAST({float(params.get('tolerance_threshold', C.HIST_TOLERANCE))!r} AS DOUBLE)"
    lb = int(params.get("lookback_days", C.HIST_LOOKBACK_DAYS))
    md = newest_date(d, params)

    def days(cond: str) -> str:
        return f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"

    # Window anchors per the reference's max-date fallback (:893-905):
    # window_start = maxd − lb (actual is >= window_start, :1030-1032),
    # dropped_day = maxd − (lb+1) (:895), prev_cum = [window_start, maxd)
    # (:1007-1010). Deviation therefore equals dropped_day_count, so the
    # rule fires when the day that rolled out of the window carried more
    # than `tolerance` of it. expected follows :1049; deviation_pct is 0.0
    # when expected is 0 (:1063-1067).
    pct = ("CASE WHEN expected_count = 0 THEN 0.0 "
           "ELSE abs(CAST(deviation AS DOUBLE)) / expected_count END")
    return f"""
SELECT {int(rule["rule_id"])} AS rule_id, {lit(d, rule["rule_name"])} AS rule_name,
       dataset_name, CAST({md} AS {str_t(d)}) AS data_date,
       actual_count AS actual_60_day_count, expected_count AS expected_60_day_count,
       deviation, {round4(pct)} AS deviation_percentage,
       {tol} AS tolerance_threshold,
       CASE WHEN {pct} > {tol} THEN 'FAIL' ELSE 'PASS' END AS status,
       dropped_day_count, newest_day_count, previous_cumulative_count
FROM (
  SELECT *, actual_count - expected_count AS deviation
  FROM (
    SELECT *, previous_cumulative_count - dropped_day_count + newest_day_count
              AS expected_count
    FROM (
      SELECT dataset_name,
             {days(f"_d >= {date_sub(d, md, lb)}")} AS actual_count,
             {days(f"_d >= {date_sub(d, md, lb)} AND _d < {md}")} AS previous_cumulative_count,
             {days(f"_d = {date_sub(d, md, lb + 1)}")} AS dropped_day_count,
             {days(f"_d = {md}")} AS newest_day_count
      FROM (SELECT {dataset} AS dataset_name, {day} AS _d FROM {src}) src
      GROUP BY dataset_name) agg) e) dev"""


def execute_historical_completeness_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    breaches = Observation()                                      # :1066
    sink.append(
        spark.sql(render(SPARK, rule, params)).observe(
            breaches, F.expr("count_if(status = 'FAIL')").alias("n")),
        params.get("details_table", TABLE),
    )
    return RuleResult.from_count(breaches.get["n"])
