"""Rule families — the 8 reference rule families (dq_rules_library.py)
re-expressed as SQL renderers.

Each parameterized family has one renderer,
    render(dialect, rule: dict, params: dict) -> str,
emitting its detail rows as Spark SQL or DuckDB SQL (textquality.spec's
dialect helpers; catalog names quoted, never spliced). The engine runs the
SPARK rendering; the query registry binds the same renderer to a
DEFAULT_CATALOG rule, so its DuckDB oracle checks the SQL the engine runs.

Every executor has the same contract:
    execute(spark, rule: dict, params: dict, sink) -> RuleResult
where RuleResult carries the violation count (result_value), the universal
PASS/FAIL-iff-count>0 indicator (dq_rules_library.py:98,263,348,...) and any
detail DataFrames appended through the sink.

Each rule output is one Spark job: the violation count is the row count
``sink.append`` returns, or an Observation on the plan it writes, never a
cache and ``count()`` before the write (tests/test_engine.py guards this).
"""

from .base import RuleResult  # noqa: F401
