"""Duplicate / uniqueness checks.

Reference: execute_duplicate_check (dq_rules_library.py:280-369) —
normalize columns (upper-case some, round some), groupBy all check columns,
keep groups with count > 1, JSON-pack group keys into the details table,
FAIL iff any group exists. The UNIQUENESS SQL flavor (:67-99) is the same
group count over a catalog-authored row set, so both families render
through ``groups``. The group count is the row count of the detail write
itself: one job, where the reference caches the frame and counts it first.
"""

from __future__ import annotations

import re

from ..textquality.spec import SPARK, ident, lit, table, to_json
from .base import RuleResult, append_rendered

TABLE = "dq_duplicate_details"


def groups(d: str, rule: dict, inner: str) -> str:
    """Duplicate groups of a row set: every column of ``inner`` is a key,
    packed whole into one JSON object (the VARIANT object_construct,
    :331-336)."""
    row = "struct(*)" if d == SPARK else "dq_row"
    return f"""
SELECT {lit(d, rule["rule_name"])} AS rule_name,
       {to_json(d, "k")} AS duplicate_values,
       COUNT(1) AS duplicate_count
FROM (SELECT {row} AS k FROM ({inner}) dq_row) g
GROUP BY k
HAVING COUNT(1) > 1"""


def render(d: str, rule: dict, params: dict) -> str:
    """DUPLICATE_CHECK: normalized check columns (:310-313), then groups.
    ``numeric_columns_to_round`` uses the engine's native round(): Spark and
    DuckDB disagree at half-boundaries, so no oracle renders it."""
    upper = set(params.get("case_insensitive_columns", []))
    digits = params.get("numeric_columns_to_round", {})
    norm = []
    for c in params["columns_to_check"]:
        e = ident(d, c)
        if c in upper:
            e = f"upper({e})"
        if c in digits:
            e = f"round({e}, {int(digits[c])})"
        norm.append(f"{e} AS {ident(d, c)}")
    return groups(d, rule, f"SELECT {', '.join(norm)} FROM {table(d, params['source_table'])}")


def render_uniqueness(d: str, rule: dict, params: dict) -> str:
    """UNIQUENESS: logic_definition holds the inner row-set query directly;
    catalogs migrated from the reference may instead hold its outer
    `SELECT COUNT(*) FROM (SELECT ...) as dupes` form, whose inner query is
    extracted with the reference's own regex (dq_rules_library.py:69-72)."""
    logic = rule["logic_definition"]
    m = re.search(r"\((SELECT.*)\)\s+as\s+dupes", logic, re.IGNORECASE | re.DOTALL)
    return groups(d, rule, m.group(1) if m else logic)


def execute_duplicate_check(spark, rule: dict, params: dict, sink) -> RuleResult:
    return RuleResult.from_count(append_rendered(spark, render, rule, params, sink, TABLE))


def execute_uniqueness_sql(spark, rule: dict, params: dict, sink) -> RuleResult:
    return RuleResult.from_count(
        append_rendered(spark, render_uniqueness, rule, params, sink, TABLE))

