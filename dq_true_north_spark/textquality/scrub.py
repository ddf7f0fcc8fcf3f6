"""PII/toxicity scrub — one frozen spec, three executions.

The spec (constants.PII_PATTERNS order + lexicon) is executed:
  1. JVM-side as a chained regexp_replace expression — the production hot
     path (whole-stage codegen, no Python): `scrub_sql_expr(True, ...)`
     parsed into the verdict projection (pipeline.compute_verdicts);
  2. Python-side (`scrub_text`) — the golden-fixture reference
     implementation;
  3. DuckDB-side (oracle SQL via `scrub_sql_expr`).
Byte-identical output across all three is enforced by tests
(BASELINE.json: "byte-identical extracted text per url"). Patterns are
RE2-safe (no lookaround/backreferences), so Java regex, Python re and RE2
agree; idempotence (scrub∘scrub == scrub) is property-tested.
"""

from __future__ import annotations

import re

from .. import constants as C

# lexicon pattern: word-boundary, case-insensitive, longest-first
_LEX_PATTERN = r"(?i)\b(?:" + "|".join(
    sorted(C.TOXICITY_LEXICON, key=len, reverse=True)
) + r")\b"

_ALL_PATTERNS: tuple[tuple[str, str], ...] = tuple(
    [(p, repl) for _, p, repl in C.PII_PATTERNS]
    + [(_LEX_PATTERN, C.TOXICITY_REPLACEMENT)]
)

# compiled once per process — module singleton (executor-local init,
# SURVEY.md §7 hard-point 4)
_COMPILED = [(re.compile(p), repl) for p, repl in _ALL_PATTERNS]


def scrub_text(text: str | None) -> str | None:
    """Reference implementation (golden fixtures use THIS function)."""
    if text is None:
        return None
    for rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text


def scrub_sql_expr(dialect_spark: bool, expr: str) -> str:
    """Render the chain as SQL for Spark ('spark') or DuckDB (RE2)."""
    out = expr
    for p, repl in _ALL_PATTERNS:
        if dialect_spark:
            lit = "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
            out = f"regexp_replace({out}, {lit}, '{repl}')"
        else:
            lit = "'" + p.replace("'", "''") + "'"
            out = f"regexp_replace({out}, {lit}, '{repl}', 'g')"
    return out

