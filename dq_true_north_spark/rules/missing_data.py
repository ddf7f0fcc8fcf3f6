"""Missing-data / nulls rule — four sub-checks on day T vs day T-1.

Reference: execute_missing_data_nulls_check (dq_rules_library.py:373-508):
(1) timeliness — zero rows on the reference date → FAIL + early return
    (:411-427);
(2) null violations — OR-chain of isNull over key columns, per-row details
    (:430-453);
(3) missing permutations — distinct segment tuples on T-1 minus those on T,
    set difference == left-anti join under Catalyst (:461-463);
(4) count mismatch — count(T) < count(T-1) (:481).

The reference anchors T to CURRENT_DATE-1; the rebuild anchors to the
table's own MAX(date) so runs are deterministic over static snapshots
(same spirit as the reference's max-date fallback, :874-918).
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io import local_rows
from .base import RuleResult

DETAIL_SCHEMA = "rule_name string, failure_type string, failure_date string, details string"


def execute_missing_data_nulls_check(spark: SparkSession, rule: dict, params: dict, sink) -> RuleResult:
    src = params["source_table"]
    date_col = params["date_column"]
    perm_cols = params.get("permutation_columns", [])
    nn_cols = params.get("not_null_columns", [])
    details_table = params.get("details_table", "dq_details_missing_data")
    name = rule["rule_name"]

    df = spark.table(src).withColumn("_d", F.to_date(F.col(date_col)))
    # :431-438; a literal false when no column is declared
    null_pred = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in nn_cols], F.lit(False))
    # T, the T count, the T-1 count and the null count in one collect: the
    # counts are anchored on T as a scalar subquery of the same job
    md = df.agg(F.max("_d")).scalar()
    maxd, c1, c2, n_nulls = df.agg(
        F.max("_d"),
        F.count_if(F.col("_d") == md),
        F.count_if(F.col("_d") == F.date_sub(md, 1)),
        F.count_if((F.col("_d") == md) & null_pred),
    ).first()
    on_t1 = F.col("_d") == F.lit(maxd)                               # :411
    on_t2 = F.col("_d") == F.date_sub(F.lit(maxd), 1)                # :456

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
        sink.append(
            df.filter(on_t1 & null_pred).select(
                F.lit(name).alias("rule_name"),
                F.lit("NULL_VIOLATION").alias("failure_type"),
                F.col("_d").cast("string").alias("failure_date"),
                F.to_json(F.struct(*nn_cols)).alias("details"),
            ),
            details_table,
        )

    # (3) missing permutations
    if perm_cols:
        missing = (
            df.filter(on_t2).select(*perm_cols).distinct()
            .subtract(df.filter(on_t1).select(*perm_cols).distinct())  # :461-463
        )
        violations += sink.append(
            missing.select(
                F.lit(name).alias("rule_name"),
                F.lit("MISSING_PERMUTATION").alias("failure_type"),
                F.lit(str(maxd)).alias("failure_date"),
                F.to_json(F.struct(*perm_cols)).alias("details"),
            ),
            details_table,
        )

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
