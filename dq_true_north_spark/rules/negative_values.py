"""Negative-value rule — single-pass unpivot instead of one scan per column.

Reference: execute_negative_value_check (dq_rules_library.py:634-727) loops
numeric columns, filtering `col < 0` once per column (:675-699) — N scans.
Rebuild: one unpivot (Spark's `stack`, DuckDB's lateral VALUES) then a
single filter, so the source (100 TB at target scale) is read exactly once
regardless of column count (SURVEY.md §2.2 "scan amplification #2").
"""

from __future__ import annotations

from ..textquality.spec import SPARK, ident, lit, round4_signed, str_t, table
from .base import RuleResult, append_rendered

TABLE = "dq_negative_value_details"


def render(d: str, rule: dict, params: dict) -> str:
    """``timestamp_column`` absent or null renders a NULL record_timestamp;
    the executor resolves the reference's CREATED_DATE default first."""
    s = str_t(d)
    ids = params.get("id_columns") or [params["id_column"]]
    rid = ", ".join(f"CAST({ident(d, c)} AS {s})" for c in ids)
    if len(ids) > 1:                            # composite id (:667-668)
        rid = f"concat_ws('-', {rid})"
    ts = params.get("timestamp_column")
    ts = f"CAST({ident(d, ts) if ts else 'NULL'} AS {s})"
    pairs = [(lit(d, c), f"CAST({ident(d, c)} AS DOUBLE)") for c in params["numeric_columns"]]
    if d == SPARK:
        args = ", ".join(f"{name}, {value}" for name, value in pairs)
        unpivot = (f"SELECT {rid} AS record_id, {ts} AS record_timestamp, "
                   f"stack({len(pairs)}, {args}) AS (field_name, negative_value) "
                   f"FROM {table(d, params['source_table'])}")
    else:
        rows = ", ".join(f"({name}, {value})" for name, value in pairs)
        unpivot = (f"SELECT {rid} AS record_id, {ts} AS record_timestamp, "
                   "u.field_name, u.negative_value "
                   f"FROM {table(d, params['source_table'])}, "
                   f"LATERAL (VALUES {rows}) u(field_name, negative_value)")
    # values here are STRICTLY NEGATIVE, where the plain floor-round4 would
    # flip half-boundaries toward +inf (-0.00005 -> 0.0, losing the sign):
    # half-away-from-zero matches the reference's ROUND display
    return f"""
SELECT record_id, record_timestamp, field_name,
       {round4_signed('negative_value')} AS negative_value,
       {int(rule["rule_id"])} AS rule_id, {lit(d, rule["rule_name"])} AS rule_name
FROM ({unpivot}) v
WHERE negative_value < 0"""


def execute_negative_value_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    # reference default (dq_rules_library.py:655). An EXPLICIT missing
    # column errors like the reference; the default silently degrades to a
    # NULL timestamp when the source has no created_date (catalogs migrated
    # from the reference otherwise break on every date-less table).
    if "timestamp_column" not in params:
        columns = {c.lower() for c in spark.table(params["source_table"]).columns}
        params = {**params,
                  "timestamp_column": "CREATED_DATE" if "created_date" in columns else None}
    return RuleResult.from_count(append_rendered(spark, render, rule, params, sink, TABLE))
