from __future__ import annotations

from dataclasses import dataclass

from .. import constants as C
from ..textquality.spec import SPARK, ident, table


@dataclass
class RuleResult:
    """Outcome of one rule execution (reference: the log_dq_result payload,
    dq_rules_library.py:17-52)."""

    result_value: str
    indicator: str
    error_message: str = ""

    @classmethod
    def from_count(cls, violations: int) -> "RuleResult":
        """FAIL iff violation count > 0 — the universal convention
        (dq_rules_library.py:98,263,348,496,605,702,795,1125,1195)."""
        return cls(
            result_value=str(violations),
            indicator=C.FAIL if violations > 0 else C.PASS,
        )


def over(d: str, segs, order, desc: bool = False, frame: str = "") -> str:
    """A window clause: PARTITION BY the segment columns (none: one
    partition), ORDER BY the order columns with Spark's NULL placement
    spelled out, so both dialects order NULLs alike."""
    part = f"PARTITION BY {', '.join(ident(d, c) for c in segs)} " if segs else ""
    way = "DESC NULLS LAST" if desc else "ASC NULLS FIRST"
    keys = ", ".join(f"{ident(d, c)} {way}" for c in order)
    return f"OVER ({part}ORDER BY {keys}{' ' + frame if frame else ''})"


def cols(d: str, names) -> str:
    """The distinct quoted column names, comma-separated."""
    return ", ".join(ident(d, c) for c in dict.fromkeys(names))


def newest_date(d: str, params: dict) -> str:
    """The source's newest date_column day, as a scalar subquery: a rule's
    date anchor runs inside the query that uses it."""
    return (f"(SELECT max(CAST({ident(d, params['date_column'])} AS DATE)) "
            f"FROM {table(d, params['source_table'])})")


def append_rendered(spark, render, rule: dict, params: dict, sink, details_table: str) -> int:
    """Write the family's SPARK rendering to its detail table (the rule's
    details_table param, else the family's) and return the rows written:
    one job, the verdict count observed on the write."""
    return sink.append(spark.sql(render(SPARK, rule, params)),
                       params.get("details_table", details_table))
