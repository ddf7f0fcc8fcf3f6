"""Negative-value rule — single-pass unpivot instead of one scan per column.

Reference: execute_negative_value_check (dq_rules_library.py:634-727) loops
numeric columns, filtering `col < 0` once per column (:675-699) — N scans.
Rebuild: one `stack` unpivot then a single filter, so the source (100 TB at
target scale) is read exactly once regardless of column count
(SURVEY.md §2.2 "scan amplification #2").
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..textquality.spec import round4_signed_col
from .base import RuleResult


def execute_negative_value_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    num_cols = params["numeric_columns"]
    id_cols = params.get("id_columns") or [params["id_column"]]
    # reference default (dq_rules_library.py:655). An EXPLICIT missing
    # column errors like the reference; the default silently degrades to a
    # NULL timestamp when the source has no created_date (catalogs migrated
    # from the reference otherwise break on every date-less table).
    ts_col = params.get("timestamp_column", "CREATED_DATE")
    explicit_ts = "timestamp_column" in params

    df = spark.table(src)
    if not explicit_ts and ts_col.lower() not in {c.lower() for c in df.columns}:
        ts_col = None
    # composite record id via concat_ws (reference :667-668)
    rid = (
        F.col(id_cols[0]).cast("string")
        if len(id_cols) == 1
        else F.concat_ws("-", *[F.col(c).cast("string") for c in id_cols])
    )
    stack_expr = "stack({n}, {args}) as (field_name, negative_value)".format(
        n=len(num_cols),
        args=", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in num_cols),
    )
    negatives = (
        df.select(
            rid.alias("record_id"),
            (F.col(ts_col).cast("string") if ts_col else F.lit(None).cast("string")).alias("record_timestamp"),
            F.expr(stack_expr),
        )
        .filter(F.col("negative_value") < 0)
    )
    n = sink.append(
        negatives.select(
            "record_id", "record_timestamp", "field_name",
            # values here are STRICTLY NEGATIVE, where the plain
            # floor-round4 would flip half-boundaries toward +inf
            # (e.g. -0.00005 -> 0.0, losing the sign) — the shared
            # half-away-from-zero spec (round4_signed_col) matches the
            # reference's ROUND display exactly, still without a native
            # round() call.
            round4_signed_col(F.col("negative_value")).alias("negative_value"),
            F.lit(rule["rule_id"]).alias("rule_id"),
            F.lit(rule["rule_name"]).alias("rule_name"),
        ),
        params.get("details_table", "dq_negative_value_details"),
    )
    return RuleResult.from_count(n)
