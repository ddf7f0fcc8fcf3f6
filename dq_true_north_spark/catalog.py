"""Default rule catalog over the driver's test tables, plus the DuckDB
oracle that predicts the engine's whole summary table.

Mirrors RULE_CATALOG columns (dq_engine.py:27,89-90; dq_rules_library.py:60-63):
rule_id, rule_name, rule_type, logic_implementation, logic_definition,
parameters(json), segment_value, is_active.
"""

from __future__ import annotations

import json

from . import constants as C


def _r(rule_id, name, rtype, impl, logic="", seg="", **params) -> dict:
    return {
        "rule_id": rule_id,
        "rule_name": name,
        "rule_type": rtype,
        "logic_implementation": impl,
        "logic_definition": logic,
        "parameters": json.dumps(params),
        "segment_value": seg,
        "is_active": True,
    }


DEFAULT_CATALOG: list[dict] = [
    _r(1, "lineitem_pk_unique", "UNIQUENESS", "SQL_QUERY",
       logic="SELECT l_orderkey, l_linenumber FROM lineitem"),
    _r(2, "orders_cust_date_dups", "DUPLICATE_CHECK", "SNOWPARK_FUNC",
       source_table="orders", columns_to_check=["o_custkey", "o_orderdate"]),
    _r(3, "customer_acctbal_negative", "NEGATIVE_VALUES", "SNOWPARK_FUNC",
       source_table="customer", numeric_columns=["c_acctbal"],
       id_column="c_custkey"),
    _r(4, "supplier_acctbal_negative", "NEGATIVE_VALUES", "SNOWPARK_FUNC",
       source_table="supplier", numeric_columns=["s_acctbal"],
       id_column="s_suppkey"),
    _r(5, "events_value_spike_dip", "SPIKE_DIP", "SNOWPARK_FUNC",
       source_table="events", metric_column="value", timestamp_col="ts",
       segment_columns=["event_type"], tiebreak_columns=["event_id"],
       threshold=C.SPIKE_THRESHOLD),
    _r(6, "events_sustained_trend", "SUSTAINED_TREND", "SNOWPARK_FUNC",
       source_table="events", metric_column="value", timestamp_col="ts",
       segment_columns=["event_type"], tiebreak_columns=["event_id"],
       trend_days_threshold=3),
    _r(7, "events_missing_data", "MISSING_DATA_NULLS", "SNOWPARK_FUNC",
       source_table="events", date_column="ts",
       permutation_columns=["event_type", "user_id"],
       not_null_columns=["user_id", "value"]),
    _r(8, "events_historical_completeness", "HISTORICAL_COMPLETENESS",
       "SNOWPARK_FUNC", source_table="events", date_column="ts",
       dataset_column="event_type", tolerance_threshold=C.HIST_TOLERANCE,
       lookback_days=C.HIST_LOOKBACK_DAYS),
    _r(9, "events_sigma_anomaly", "ANOMALY_SIGMA", "SNOWPARK_FUNC",
       source_table="events", metric_column="value", date_column="ts",
       segment_columns=["event_type"], sigma=C.SIGMA_BAND,
       window_size=C.ROLLING_WINDOW_DAYS),
    _r(10, "events_rolling_average", "ROLLING_AVERAGE", "SNOWPARK_FUNC",
       source_table="events", metric_column="value", date_column="ts",
       segment_columns=["event_type"], tiebreak_columns=["event_id"],
       window_size=C.ROLLING_WINDOW_DAYS),
    _r(11, "orders_completeness_status_f", "COMPLETENESS", "SQL_QUERY",
       logic=(
           "SELECT 'orders_completeness_status_f' AS rule_name, "
           "CAST(MAX(CAST(o_orderdate AS DATE)) AS STRING) AS expected_date, "
           "CAST(MAX(CASE WHEN o_orderstatus = 'F' "
           "    THEN CAST(o_orderdate AS DATE) END) AS STRING) AS actual_max_date, "
           "datediff(MAX(CAST(o_orderdate AS DATE)), "
           "         MAX(CASE WHEN o_orderstatus = 'F' "
           "    THEN CAST(o_orderdate AS DATE) END)) AS days_missing "
           "FROM orders"
       )),
    _r(12, "orders_open_count_gt_zero", "GENERIC", "SQL_QUERY",
       logic=(
           "SELECT SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') "
           "THEN 1 ELSE 0 END) FROM orders"
       )),
]


def summary_oracle_sql() -> str:
    """DuckDB SQL predicting the engine's entire dq_results summary for
    DEFAULT_CATALOG — one UNION ALL arm per rule."""

    def arm(rule_id, name, rtype, cnt_sql, indicator_sql=None, value_sql=None):
        value_sql = value_sql or f"CAST(({cnt_sql}) AS VARCHAR)"
        indicator_sql = indicator_sql or (
            f"CASE WHEN ({cnt_sql}) > 0 THEN 'FAIL' ELSE 'PASS' END"
        )
        return (
            f"SELECT {rule_id} AS rule_id, '{name}' AS rule_name, "
            f"'{rtype}' AS rule_type, {value_sql} AS result_value, "
            f"{indicator_sql} AS indicator"
        )

    spike_cnt = f"""(
        SELECT COUNT(*) FROM (
            SELECT value, LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
        WHERE rn = 1 AND prev IS NOT NULL AND prev <> 0
          AND abs((value - prev) / prev) >= {C.SPIKE_THRESHOLD})"""

    trend_cnt = """(
        SELECT COUNT(*) FROM (
            SELECT event_type, trend_group_id, COUNT(*) AS len FROM (
                SELECT event_type, ts, event_id,
                    CASE WHEN prev IS NOT NULL AND value > prev THEN 1 ELSE 0 END AS is_increasing,
                    SUM(CASE WHEN prev IS NOT NULL AND value > prev THEN 0 ELSE 1 END)
                        OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS trend_group_id
                FROM (SELECT *, LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
                      FROM events) a) b
            WHERE is_increasing = 1
            GROUP BY event_type, trend_group_id HAVING COUNT(*) >= 3) c)"""

    missing_cnt = """(
        WITH g AS (SELECT CAST(MAX(ts) AS DATE) AS maxd FROM events),
        t1 AS (SELECT * FROM events, g WHERE CAST(ts AS DATE) = g.maxd),
        t2 AS (SELECT * FROM events, g WHERE CAST(ts AS DATE) = g.maxd - INTERVAL 1 DAY)
        SELECT
            (SELECT COUNT(*) FROM t1 WHERE user_id IS NULL OR value IS NULL)
          + (SELECT COUNT(*) FROM (
                SELECT DISTINCT event_type, user_id FROM t2
                EXCEPT SELECT DISTINCT event_type, user_id FROM t1))
          + (CASE WHEN (SELECT COUNT(*) FROM t1) < (SELECT COUNT(*) FROM t2)
                  THEN 1 ELSE 0 END))"""

    hist_cnt = f"""(
        WITH g AS (SELECT CAST(MAX(ts) AS DATE) AS maxd FROM events),
        agg AS (
            SELECT event_type,
                SUM(CASE WHEN CAST(ts AS DATE) >= g.maxd - INTERVAL {C.HIST_LOOKBACK_DAYS} DAY THEN 1 ELSE 0 END) AS actual,
                SUM(CASE WHEN CAST(ts AS DATE) >= g.maxd - INTERVAL {C.HIST_LOOKBACK_DAYS} DAY
                          AND CAST(ts AS DATE) < g.maxd THEN 1 ELSE 0 END) AS prev_cum,
                SUM(CASE WHEN CAST(ts AS DATE) = g.maxd - INTERVAL {C.HIST_LOOKBACK_DAYS + 1} DAY THEN 1 ELSE 0 END) AS dropped,
                SUM(CASE WHEN CAST(ts AS DATE) = g.maxd THEN 1 ELSE 0 END) AS newest
            FROM events, g GROUP BY event_type)
        SELECT COUNT(*) FROM agg
        WHERE (CASE WHEN (prev_cum - dropped + newest) = 0 THEN 0.0
               ELSE abs(CAST(actual - (prev_cum - dropped + newest) AS DOUBLE))
                    / (prev_cum - dropped + newest) END) > {C.HIST_TOLERANCE})"""

    sigma_cnt = f"""(
        SELECT COUNT(*) FROM (
            SELECT daily_total,
                AVG(daily_total) OVER (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN {C.ROLLING_WINDOW_DAYS - 1} PRECEDING AND 1 PRECEDING) AS avg_v,
                STDDEV_SAMP(daily_total) OVER (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN {C.ROLLING_WINDOW_DAYS - 1} PRECEDING AND 1 PRECEDING) AS std_v
            FROM (SELECT event_type, CAST(ts AS DATE) AS d, SUM(value) AS daily_total
                  FROM events GROUP BY event_type, CAST(ts AS DATE)) daily) b
        WHERE std_v IS NOT NULL AND abs(daily_total - avg_v) > {C.SIGMA_BAND} * std_v)"""

    completeness_cnt = """(
        SELECT CASE WHEN datediff('day',
            MAX(CASE WHEN o_orderstatus = 'F' THEN CAST(o_orderdate AS DATE) END),
            MAX(CAST(o_orderdate AS DATE))) > 0 THEN 1 ELSE 0 END
        FROM orders)"""

    arms = [
        arm(1, "lineitem_pk_unique", "UNIQUENESS",
            "(SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem "
            "GROUP BY 1, 2 HAVING COUNT(*) > 1) t)"),
        arm(2, "orders_cust_date_dups", "DUPLICATE_CHECK",
            "(SELECT COUNT(*) FROM (SELECT o_custkey, o_orderdate FROM orders "
            "GROUP BY 1, 2 HAVING COUNT(*) > 1) t)"),
        arm(3, "customer_acctbal_negative", "NEGATIVE_VALUES",
            "(SELECT COUNT(*) FROM customer WHERE c_acctbal < 0)"),
        arm(4, "supplier_acctbal_negative", "NEGATIVE_VALUES",
            "(SELECT COUNT(*) FROM supplier WHERE s_acctbal < 0)"),
        arm(5, "events_value_spike_dip", "SPIKE_DIP", spike_cnt),
        arm(6, "events_sustained_trend", "SUSTAINED_TREND", trend_cnt),
        arm(7, "events_missing_data", "MISSING_DATA_NULLS", missing_cnt),
        arm(8, "events_historical_completeness", "HISTORICAL_COMPLETENESS", hist_cnt),
        arm(9, "events_sigma_anomaly", "ANOMALY_SIGMA", sigma_cnt),
        arm(10, "events_rolling_average", "ROLLING_AVERAGE",
            "(SELECT COUNT(DISTINCT event_type) FROM events)",
            indicator_sql="'PASS'"),
        arm(11, "orders_completeness_status_f", "COMPLETENESS", completeness_cnt),
        arm(12, "orders_open_count_gt_zero", "GENERIC",
            "(SELECT SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') "
            "THEN 1 ELSE 0 END) FROM orders)"),
    ]
    return "\nUNION ALL\n".join(arms)
