"""Driver-faithful correctness gate: every registered query must match
its DuckDB oracle at sf0.01 (row count + schema + value hash)."""

from __future__ import annotations

import pytest

from dq_true_north_spark import queries as Q
from tests.conftest import SF_DIR
from tests.oracle import assert_parity

_REG = Q.registry()


@pytest.mark.parametrize("name", sorted(_REG))
def test_sql_parity(spark, duck, name):
    entry = _REG[name]
    assert entry["oracle"], f"{name} has no oracle"
    df = entry["spark"](spark, SF_DIR)
    assert_parity(df, duck, entry["oracle"], name)
