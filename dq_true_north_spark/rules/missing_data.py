"""Missing-data / nulls rule — four sub-checks on day T vs day T-1.

Reference: execute_missing_data_nulls_check (dq_rules_library.py:373-508):
(1) timeliness — zero rows on the reference date → FAIL + early return
    (:411-427);
(2) null violations — OR-chain of isNull over key columns, per-row details
    (:430-453);
(3) missing permutations — distinct segment tuples on T-1 minus those on T
    (:461-463);
(4) count mismatch — count(T) < count(T-1) (:481).

The reference anchors T to CURRENT_DATE-1; the rebuild anchors to the
table's own MAX(date) so runs are deterministic over static snapshots
(same spirit as the reference's max-date fallback, :874-918). The
timeliness and count rows are built on the driver from the counts collect.
"""

from __future__ import annotations

import json
from datetime import timedelta

from ..io import local_rows
from ..textquality.spec import SPARK, date_sub, ident, json_cols, lit, str_t, table
from .base import RuleResult, cols, newest_date

DETAIL_SCHEMA = "rule_name string, failure_type string, failure_date string, details string"
TABLE = "dq_details_missing_data"


def _dated(d: str, params: dict, names) -> str:
    """The source's named columns plus its rows' date _d."""
    picked = f"{cols(d, names)}, " if names else ""
    return (f"SELECT {picked}CAST({ident(d, params['date_column'])} AS DATE) AS _d "
            f"FROM {table(d, params['source_table'])}")


def _nulls(d: str, params: dict) -> str:
    """Any not-null column NULL (:431-438); false when none is declared."""
    nn = params.get("not_null_columns", [])
    return "(" + " OR ".join(f"{ident(d, c)} IS NULL" for c in nn) + ")" if nn else "false"


def render_counts(d: str, rule: dict, params: dict) -> str:
    """The two newest days, newest first: each day's row count and, of its
    rows, how many have a null key column. T is the first row's day."""
    return f"""
SELECT _d, COUNT(1) AS n, count_if({_nulls(d, params)}) AS nulls
FROM ({_dated(d, params, params.get("not_null_columns", []))}) src
WHERE _d IS NOT NULL
GROUP BY _d
ORDER BY _d DESC
LIMIT 2"""


def render_nulls(d: str, rule: dict, params: dict) -> str:
    """One NULL_VIOLATION row per row of T with a null key column."""
    nn = params.get("not_null_columns", [])
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name, 'NULL_VIOLATION' AS failure_type,
       CAST(_d AS {str_t(d)}) AS failure_date, {json_cols(d, nn)} AS details
FROM ({_dated(d, params, nn)}) src
WHERE _d = {newest_date(d, params)} AND {_nulls(d, params)}"""


def render(d: str, rule: dict, params: dict) -> str:
    """One MISSING_PERMUTATION row per segment tuple on T-1 absent on T
    (:461-463): T is the newest day, so those are the tuples whose newest
    day is T-1. One aggregate over two days' rows, no set difference."""
    perm = params["permutation_columns"]
    t = newest_date(d, params)
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name, 'MISSING_PERMUTATION' AS failure_type,
       CAST({t} AS {str_t(d)}) AS failure_date, {json_cols(d, perm)} AS details
FROM ({_dated(d, params, perm)}) src
WHERE _d >= {date_sub(d, t, 1)}
GROUP BY {cols(d, perm)}
HAVING max(_d) = {date_sub(d, t, 1)}"""


def execute_missing_data_nulls_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    details_table = params.get("details_table", TABLE)
    name = rule["rule_name"]
    days = spark.sql(render_counts(SPARK, rule, params)).collect()
    maxd, c1, n_nulls = days[0] if days else (None, 0, 0)
    c2 = days[1][1] if len(days) > 1 and days[1][0] == maxd - timedelta(days=1) else 0

    # (1) timeliness
    if c1 == 0:
        detail = local_rows(
            spark,
            [(name, "TIMELINESS", str(maxd),
              json.dumps({"expected_date": str(maxd), "row_count": 0}))],
            DETAIL_SCHEMA,
        )
        sink.append(detail, details_table)
        return RuleResult.from_count(1)                          # early return :427

    # (2) null violations
    violations = n_nulls
    if n_nulls > 0:
        sink.append(spark.sql(render_nulls(SPARK, rule, params)), details_table)

    # (3) missing permutations
    if params.get("permutation_columns"):
        violations += sink.append(spark.sql(render(SPARK, rule, params)), details_table)

    # (4) count drop
    if c1 < c2:                                                  # :481
        violations += 1
        detail = local_rows(
            spark,
            [(name, "COUNT_MISMATCH", str(maxd),
              json.dumps({"count_t1": c1, "count_t2": c2}))],
            DETAIL_SCHEMA,
        )
        sink.append(detail, details_table)

    return RuleResult.from_count(violations)
