"""Catalog-driven rule engine — the reference's orchestrator re-built.

Reference: dq_engine.main (dq_engine.py:20-141):
  1. scan RULE_CATALOG, filter IS_ACTIVE, collect to driver (:27) — the
     catalog is tiny, so driver-side iteration is correct on Spark too
     (SURVEY.md §1.2 "control vs data tables");
  2. dispatch on (RULE_TYPE, LOGIC_IMPLEMENTATION) (:93-124);
  3. per-rule exception isolation → ERROR row, loop continues (:125-138);
  4. append one summary row per rule to DQ_RESULTS (:37-44).

The summary rows are built on the driver, as in the reference
(``session.create_dataframe(rows, schema)``, dq_rules_library.py:17-52),
and become a LocalRelation (``io.local_rows``), not a Python RDD: the
append needs no Python worker, and a caller's collect of the returned
summary runs no Spark job.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants as C
from .io import NullSink, ResultSink, local_rows
from .rules.base import RuleResult
from .rules.duplicates import execute_duplicate_check, execute_uniqueness_sql
from .rules.historical import execute_historical_completeness_check
from .rules.missing_data import execute_missing_data_nulls_check
from .rules.negative_values import execute_negative_value_check
from .rules.sigma import execute_sigma_band_check
from .rules.spike_dip import execute_spike_dip_check
from .rules.sql_rule import (
    execute_completeness_sql,
    execute_generic_sql,
    execute_rolling_average,
)
from .rules.trend import execute_sustained_trend_check

DQ_RESULTS_SCHEMA = (
    "rule_id int, rule_name string, segment_value string, rule_type string, "
    "logic_implementation string, result_value string, indicator string, "
    "error_message string"
)

# dispatch table — reference if/elif chain (dq_engine.py:93-124) as a dict
DISPATCH = {
    ("UNIQUENESS", "SQL_QUERY"): execute_uniqueness_sql,
    ("COMPLETENESS", "SQL_QUERY"): execute_completeness_sql,
    ("ROLLING_AVERAGE", "SNOWPARK_FUNC"): execute_rolling_average,
    ("DUPLICATE_CHECK", "SNOWPARK_FUNC"): execute_duplicate_check,
    ("MISSING_DATA_NULLS", "SNOWPARK_FUNC"): execute_missing_data_nulls_check,
    ("SPIKE_DIP", "SNOWPARK_FUNC"): execute_spike_dip_check,
    ("NEGATIVE_VALUES", "SNOWPARK_FUNC"): execute_negative_value_check,
    ("HISTORICAL_COMPLETENESS", "SNOWPARK_FUNC"): execute_historical_completeness_check,
    ("SUSTAINED_TREND", "SNOWPARK_FUNC"): execute_sustained_trend_check,
    ("ANOMALY_SIGMA", "SNOWPARK_FUNC"): execute_sigma_band_check,
}


def _params_of(rule: dict) -> dict:
    """Parse the rule's PARAMETERS JSON; malformed strings must surface as
    that rule's ERROR row, never abort the run (dq_engine.py:125-138)."""
    return json.loads(rule.get("parameters") or "{}")


def _run_one(spark: SparkSession, rule: dict, sink) -> tuple:
    key = (rule["rule_type"], rule["logic_implementation"])
    try:
        params = _params_of(rule)  # inside isolation: bad JSON → ERROR row
        executor = DISPATCH.get(key)
        if executor is None:
            if rule["logic_implementation"] == "SQL_QUERY":
                executor = execute_generic_sql       # generic arm (:258-268)
            else:
                raise ValueError(f"No executor for {key}")
        res: RuleResult = executor(spark, rule, params, sink)
    except Exception as exc:                          # isolation (:125-138)
        res = RuleResult("", C.ERROR, f"{type(exc).__name__}: {exc}")
    return (
        int(rule["rule_id"]),
        rule["rule_name"],
        rule.get("segment_value", ""),
        rule["rule_type"],
        rule["logic_implementation"],
        res.result_value,
        res.indicator,
        res.error_message,
    )


def run_catalog(
    spark: SparkSession,
    rules: list[dict],
    sink: ResultSink | None = None,
) -> DataFrame:
    """Execute every active rule; return the dq_results summary DataFrame.

    The reference iterates rules strictly sequentially (dq_engine.py:87) —
    correct for a warehouse, wasteful on Spark where independent rule jobs
    can be scheduled concurrently from driver threads (FIFO scheduler
    interleaves their stages across idle cores); isolation semantics are
    unchanged because each rule already owns its errors.

    The dispatch pool is sized to the active rule count, capped at 16:
    per-rule driver round trips, not data, dominate rule latency, so
    splitting the catalog into waves only serializes the tail (measured
    round 6: the 12-rule default catalog ran ~0.3-0.5 s faster in one wave
    than in 8+4). The cap bounds concurrent driver threads; executors are
    protected by the FIFO scheduler either way.

    Each rule output is one Spark job, and the verdict count comes from
    that job (the sink's observed row count, or an Observation on the same
    plan), so no rule caches or counts a frame. The run caches no source
    table either: with one pass per rule the cache would cost more than it
    saves, and it would be session state another caller shares.
    """
    sink = sink if sink is not None else NullSink()
    active = [
        r for r in rules
        if r.get("is_active", True)                 # dq_engine.py:27
        # CORTEX_LLM rules are declared but skipped ("implementation
        # pending") with no summary row — reference dq_engine.py:120-121
        and r.get("logic_implementation") != "CORTEX_LLM"
    ]
    # bootstrap the result plane before the run (dq_engine.py:33-45)
    sink.ensure(spark, "dq_results", DQ_RESULTS_SCHEMA)

    if len(active) <= 1:
        summary_rows = [_run_one(spark, rule, sink) for rule in active]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(active))) as pool:
            summary_rows = list(pool.map(lambda r: _run_one(spark, r, sink), active))
    summary = local_rows(spark, summary_rows, DQ_RESULTS_SCHEMA)
    if not isinstance(sink, NullSink):
        sink.append(summary, "dq_results")
    return summary


def read_results(spark: SparkSession, sink: ResultSink) -> DataFrame:
    """Reference return value: the DQ_RESULTS handle (dq_engine.py:141)."""
    return sink.read(spark, "dq_results").orderBy(
        F.col("execution_timestamp").desc()
    )
