"""Engine mechanics: detail-table writes, error isolation, append-only sink.

Models the reference's operational posture (SURVEY.md §5): verdict trichotomy
makes rule bugs visible as ERROR rows instead of crashing the run
(dq_engine.py:125-138).
"""

from __future__ import annotations

import ast
import json
import os

import pytest
from pyspark.sql import functions as F

from dq_true_north_spark import constants as C
from dq_true_north_spark.catalog import DEFAULT_CATALOG
from dq_true_north_spark.engine import run_catalog
from dq_true_north_spark.io import ResultSink
from dq_true_north_spark.session import load_tables
from tests.conftest import SF_DIR, SF_SMOKE, TABLES


@pytest.fixture(scope="module")
def sink(tmp_path_factory):
    return ResultSink(str(tmp_path_factory.mktemp("dq_results")))


def test_full_catalog_run_with_sink(spark, sink):
    load_tables(spark, SF_DIR, TABLES)
    summary = run_catalog(spark, [dict(r) for r in DEFAULT_CATALOG], sink=sink)
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert len(rows) == len(DEFAULT_CATALOG)
    # universal convention: FAIL iff violation count > 0
    for name, r in rows.items():
        if r["indicator"] in (C.PASS, C.FAIL) and r["result_value"].isdigit():
            expected = C.FAIL if int(r["result_value"]) > 0 else C.PASS
            if name != "events_rolling_average":  # informational, always PASS
                assert r["indicator"] == expected, name
    # summary persisted with execution_timestamp appended
    persisted = sink.read(spark, "dq_results")
    assert persisted.count() == len(DEFAULT_CATALOG)
    assert "execution_timestamp" in persisted.columns
    # a failing rule must have produced detail rows
    if int(rows["events_sustained_trend"]["result_value"]) > 0:
        details = sink.read(spark, "dq_sustained_trend_details")
        assert details.count() >= int(rows["events_sustained_trend"]["result_value"])


def test_append_only_double_run(spark, sink):
    """Reference appends on every run (dq_rules_library.py:44) — two runs,
    twice the summary rows."""
    load_tables(spark, SF_DIR, TABLES)
    run_catalog(spark, [dict(DEFAULT_CATALOG[0])], sink=sink)
    n1 = sink.read(spark, "dq_results").count()
    run_catalog(spark, [dict(DEFAULT_CATALOG[0])], sink=sink)
    n2 = sink.read(spark, "dq_results").count()
    assert n2 == n1 + 1


def test_error_isolation(spark):
    """A broken rule yields an ERROR row; later rules still run
    (dq_engine.py:125-138)."""
    load_tables(spark, SF_DIR, TABLES)
    bad = {
        "rule_id": 99, "rule_name": "broken_sql", "rule_type": "GENERIC",
        "logic_implementation": "SQL_QUERY",
        "logic_definition": "SELECT * FROM table_that_does_not_exist",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    good = dict(DEFAULT_CATALOG[2])
    summary = run_catalog(spark, [bad, good])
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["broken_sql"]["indicator"] == C.ERROR
    assert rows["broken_sql"]["error_message"] != ""
    assert rows["customer_acctbal_negative"]["indicator"] in (C.PASS, C.FAIL)


def test_run_catalog_leaves_input_rules_unchanged(spark):
    """run_catalog reads its rule dicts and never writes into them, on the
    error path too: a caller may pass DEFAULT_CATALOG's own dicts."""
    import copy

    load_tables(spark, SF_DIR, TABLES)
    bad_sql = {
        "rule_id": 98, "rule_name": "broken_sql", "rule_type": "GENERIC",
        "logic_implementation": "SQL_QUERY",
        "logic_definition": "SELECT * FROM table_that_does_not_exist",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    bad_params = dict(DEFAULT_CATALOG[2], rule_id=99,
                      rule_name="broken_params", parameters="{not json")
    rules = [bad_sql, bad_params, DEFAULT_CATALOG[2]]
    before = copy.deepcopy(rules)
    summary = run_catalog(spark, rules)
    indicators = {r["rule_name"]: r["indicator"] for r in summary.collect()}
    assert indicators["broken_sql"] == C.ERROR
    assert indicators["broken_params"] == C.ERROR
    assert rules == before


def test_verdict_trichotomy(spark):
    """value>0 → FAIL, NULL → FAIL, empty → ERROR
    (dq_rules_library.py:109-123,259-267)."""
    cases = [
        ("SELECT 5", C.FAIL),
        ("SELECT 0", C.PASS),
        ("SELECT NULL", C.FAIL),
        ("SELECT 1 WHERE 1 = 0", C.ERROR),
    ]
    for sql, expected in cases:
        rule = {
            "rule_id": 1, "rule_name": "t", "rule_type": "GENERIC",
            "logic_implementation": "SQL_QUERY", "logic_definition": sql,
            "parameters": "{}", "segment_value": "", "is_active": True,
        }
        summary = run_catalog(spark, [rule])
        assert summary.first()["indicator"] == expected, sql


def test_inactive_rules_skipped(spark):
    rule = dict(DEFAULT_CATALOG[0])
    rule["is_active"] = False
    summary = run_catalog(spark, [rule])
    assert summary.count() == 0


def test_cortex_llm_rules_skipped_like_reference(spark):
    """CORTEX_LLM rules: declared in dispatch but skipped with no summary
    row (reference dq_engine.py:120-121 'implementation pending')."""
    rule = {
        "rule_id": 77, "rule_name": "llm_rule", "rule_type": "GENERIC",
        "logic_implementation": "CORTEX_LLM", "logic_definition": "",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule, dict(DEFAULT_CATALOG[2])])
    names = [r["rule_name"] for r in summary.collect()]
    assert names == ["customer_acctbal_negative"]


def test_duplicate_check_normalization(spark, sink):
    """Case-insensitive + rounded normalization (dq_rules_library.py:310-313)."""
    df = spark.createDataFrame(
        [("A", 1.001), ("a", 1.0012), ("b", 2.0)], "k string, v double"
    )
    df.createOrReplaceTempView("dup_norm_src")
    rule = {
        "rule_id": 50, "rule_name": "dup_norm", "rule_type": "DUPLICATE_CHECK",
        "logic_implementation": "SNOWPARK_FUNC",
        "logic_definition": "",
        "parameters": json.dumps({
            "source_table": "dup_norm_src",
            "columns_to_check": ["k", "v"],
            "case_insensitive_columns": ["k"],
            "numeric_columns_to_round": {"v": 2},
        }),
        "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule], sink=sink)
    row = summary.first()
    assert row["indicator"] == C.FAIL
    assert row["result_value"] == "1"  # one duplicate group: (A, 1.00)


def test_sink_bootstrap_creates_empty_table(spark, tmp_path):
    """Reference probe + CREATE-on-miss (dq_engine.py:33-45): the table is
    readable with the declared schema before any rule has appended."""
    from dq_true_north_spark.engine import DQ_RESULTS_SCHEMA
    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "boot"))
    s.ensure(spark, "dq_results", DQ_RESULTS_SCHEMA)
    df = s.read(spark, "dq_results")
    assert df.count() == 0
    assert "rule_name" in df.columns and "execution_timestamp" in df.columns


def test_sink_schema_self_heal(spark, tmp_path):
    """Reference recreate-on-schema-drift (dq_engine.py:64-85): appending a
    drifted schema recreates the table instead of poisoning the parquet dir
    at read time."""
    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "heal"))
    s.append(spark.createDataFrame([("a", 1)], "name string, n int"), "t")
    # drift: column renamed + type changed
    s.append(spark.createDataFrame([("b", 2.5)], "name string, score double"), "t")
    out = s.read(spark, "t")
    assert set(out.columns) == {"name", "score", "execution_timestamp"}
    assert out.count() == 1  # recreated (reference CREATE OR REPLACE drops rows)
    # compatible appends still accumulate
    s.append(spark.createDataFrame([("c", 3.5)], "name string, score double"), "t")
    assert s.read(spark, "t").count() == 2


def test_sink_keeps_rows_when_schema_read_fails(spark, tmp_path, monkeypatch):
    """A failure to read the table's schema that is not a schema mismatch
    (an I/O error here) raises from append, and the table keeps its rows:
    it is never taken for drift and recreated."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    base = str(tmp_path / "keep")
    ResultSink(base).append(spark.createDataFrame([("a", 1)], "name string, n int"), "t")

    def unreadable(*args, **kwargs):
        raise OSError("transient read failure")

    with monkeypatch.context() as m:
        m.setattr(pq, "read_schema", unreadable)
        m.setattr(DataFrameReader, "parquet", unreadable)
        with pytest.raises(OSError, match="transient"):
            # a new sink has not verified the table yet, so it reads the schema
            ResultSink(base).append(
                spark.createDataFrame([("b", 2)], "name string, n int"), "t")
    rows = ResultSink(base).read(spark, "t").collect()
    assert [r["name"] for r in rows] == ["a"]


def test_sink_recreates_table_with_unparseable_footer(spark, tmp_path):
    """A part file whose footer cannot be parsed is the one read failure
    that recreates the table, like a schema mismatch."""
    base = tmp_path / "corrupt"
    (base / "t").mkdir(parents=True)
    (base / "t" / "part-0.parquet").write_bytes(b"not a parquet file")
    s = ResultSink(str(base))
    s.append(spark.createDataFrame([("b", 2)], "name string, n int"), "t")
    assert [r["name"] for r in s.read(spark, "t").collect()] == ["b"]


def test_sink_concurrent_appends_same_table(spark, tmp_path):
    """Per-table lock: N driver threads appending to ONE details table must
    lose no rows (two FileOutputCommitter jobs on one path share the
    _temporary staging dir without it)."""
    from concurrent.futures import ThreadPoolExecutor

    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "conc"))
    frames = [
        spark.createDataFrame([(i, f"r{i}")], "i int, v string")
        for i in range(8)
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda f: s.append(f, "details"), frames))
    out = s.read(spark, "details")
    assert out.count() == 8
    assert sorted(r["i"] for r in out.collect()) == list(range(8))


def test_uniqueness_accepts_reference_outer_form(spark):
    """Catalogs migrated from the reference store the OUTER count query;
    the inner row-set is extracted with the reference's regex
    (dq_rules_library.py:69-72)."""
    load_tables(spark, SF_DIR, TABLES)
    outer = ("SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber "
             "FROM lineitem) as dupes")
    rule = {
        "rule_id": 91, "rule_name": "uniq_outer", "rule_type": "UNIQUENESS",
        "logic_implementation": "SQL_QUERY", "logic_definition": outer,
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    direct = dict(rule, rule_id=92, rule_name="uniq_inner",
                  logic_definition="SELECT l_orderkey, l_linenumber FROM lineitem")
    summary = run_catalog(spark, [rule, direct])
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["uniq_outer"]["result_value"] == rows["uniq_inner"]["result_value"]
    assert rows["uniq_outer"]["indicator"] == rows["uniq_inner"]["indicator"]


def test_completeness_one_col_arm_derives_expected_date(spark, tmp_path):
    """The 1-col COMPLETENESS arm logs a derived expected date (yesterday)
    and the reference's 'N/A - Count Check' sentinel instead of empty
    strings (dq_rules_library.py:139-149; VERDICT r2 missing #1)."""
    local_sink = ResultSink(str(tmp_path / "cmp_sink"))
    rule = {
        "rule_id": 90, "rule_name": "one_col_completeness",
        "rule_type": "COMPLETENESS",
        "logic_implementation": "SQL_QUERY",
        "logic_definition": "SELECT 3 AS missing_days",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule], sink=local_sink)
    row = summary.first()
    assert row["indicator"] == C.FAIL
    assert row["result_value"] == "3"
    detail = local_sink.read(spark, "dq_details_completeness").first()
    assert detail["actual_max_date"] == "N/A - Count Check"
    assert detail["days_missing"] == 3
    yesterday = spark.sql("SELECT CAST(date_sub(current_date(), 1) AS STRING)").first()[0]
    assert detail["expected_date"] == yesterday


def test_negative_values_default_timestamp_column(spark, tmp_path):
    """Reference defaults timestamp_column='CREATED_DATE'
    (dq_rules_library.py:655): used when present, silently NULL when the
    DEFAULT column is absent, but an EXPLICIT missing column still errors
    like the reference."""
    import datetime

    local_sink = ResultSink(str(tmp_path / "neg_sink"))
    # -0.00005 also pins the display rounding: half-AWAY-from-zero keeps
    # the sign (-0.0001), where a plain floor-round4 would log 0.0
    spark.createDataFrame(
        [(1, -0.00005, datetime.datetime(2024, 6, 1, 12, 0))],
        "id int, amount double, created_date timestamp",
    ).createOrReplaceTempView("neg_with_created")
    spark.createDataFrame(
        [(1, -5.0)], "id int, amount double"
    ).createOrReplaceTempView("neg_without_created")

    def neg_rule(rid, src, **extra):
        params = {"source_table": src, "numeric_columns": ["amount"],
                  "id_column": "id", **extra}
        return {
            "rule_id": rid, "rule_name": f"neg_{rid}",
            "rule_type": "NEGATIVE_VALUES",
            "logic_implementation": "SNOWPARK_FUNC", "logic_definition": "",
            "parameters": json.dumps(params), "segment_value": "",
            "is_active": True,
        }

    summary = run_catalog(
        spark,
        [neg_rule(91, "neg_with_created"), neg_rule(92, "neg_without_created"),
         neg_rule(93, "neg_without_created", timestamp_column="nope")],
        sink=local_sink,
    )
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["neg_91"]["indicator"] == C.FAIL
    assert rows["neg_92"]["indicator"] == C.FAIL
    assert rows["neg_93"]["indicator"] == C.ERROR   # explicit missing column
    details = local_sink.read(spark, "dq_negative_value_details").collect()
    by_rule = {r["rule_name"]: r for r in details}
    assert by_rule["neg_91"]["record_timestamp"] == "2024-06-01 12:00:00"
    assert by_rule["neg_92"]["record_timestamp"] is None
    assert by_rule["neg_91"]["negative_value"] == -0.0001


def _snowpark_rule(rid, rtype, **params):
    return {
        "rule_id": rid, "rule_name": f"{rtype.lower()}_{rid}", "rule_type": rtype,
        "logic_implementation": "SNOWPARK_FUNC", "logic_definition": "",
        "parameters": json.dumps(params), "segment_value": "", "is_active": True,
    }


def test_zero_violation_rules_write_no_detail_table(spark, tmp_path):
    """A rule with no violations PASSes with 0 and publishes nothing: no
    detail table appears, and the sink leaves no staging entry behind."""
    spark.createDataFrame(
        [(1, 5.0, "a"), (2, 0.0, "b"), (3, 7.5, "c")], "id int, amount double, k string"
    ).createOrReplaceTempView("zero_violation_src")
    base = str(tmp_path / "zero")
    summary = run_catalog(
        spark,
        [_snowpark_rule(60, "NEGATIVE_VALUES", source_table="zero_violation_src",
                        numeric_columns=["amount"], id_column="id"),
         _snowpark_rule(61, "DUPLICATE_CHECK", source_table="zero_violation_src",
                        columns_to_check=["k"])],
        sink=ResultSink(base),
    )
    assert {(r["result_value"], r["indicator"]) for r in summary.collect()} == {("0", C.PASS)}
    assert os.listdir(base) == ["dq_results"]   # bootstrap table only


def test_sink_failed_write_leaves_table_untouched(spark, tmp_path):
    """A write that raises publishes nothing: the table keeps its files and
    rows, and no staging directory is left behind."""
    base = str(tmp_path / "fail")
    s = ResultSink(base)
    assert s.append(spark.createDataFrame([(1, "a"), (2, "b")], "i int, v string"), "t") == 2
    files = sorted(os.listdir(s.path("t")))
    bad = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).cast("int").alias("i"),
        F.lit("x").alias("v"),
    )
    with pytest.raises(Exception, match="boom"):
        s.append(bad, "t")
    assert sorted(os.listdir(s.path("t"))) == files
    assert sorted(r["i"] for r in s.read(spark, "t").collect()) == [1, 2]
    assert os.listdir(base) == ["t"]


def test_verdict_counts_equal_detail_rows(spark, tmp_path):
    """Each count rule's verdict is the row count of its own detail write:
    equal for the per-violation families, the FAIL rows for historical, and
    at most the detail rows for spike/dip (which logs every breach but
    judges only each segment's latest point)."""
    load_tables(spark, SF_DIR, TABLES)
    local_sink = ResultSink(str(tmp_path / "counts"))
    summary = run_catalog(spark, [dict(r) for r in DEFAULT_CATALOG],
                          sink=local_sink)
    verdicts = {r["rule_name"]: int(r["result_value"]) for r in summary.collect()
                if r["rule_type"] not in ("COMPLETENESS", "GENERIC")}

    def detail_rows(table, name, where="true"):
        if not local_sink.exists(table):
            return 0
        return local_sink.read(spark, table).filter(
            (F.col("rule_name") == name) & F.expr(where)).count()

    tables = {
        "UNIQUENESS": "dq_duplicate_details",
        "DUPLICATE_CHECK": "dq_duplicate_details",
        "NEGATIVE_VALUES": "dq_negative_value_details",
        "SUSTAINED_TREND": "dq_sustained_trend_details",
        "MISSING_DATA_NULLS": "dq_details_missing_data",
        "ANOMALY_SIGMA": "dq_anomaly_details",
        "ROLLING_AVERAGE": "dq_details_rolling_average",
        "HISTORICAL_COMPLETENESS": "dq_historical_completeness_details",
        "SPIKE_DIP": "dq_details_spike_dip",
    }
    checked = set()
    for rule in DEFAULT_CATALOG:
        name, rtype = rule["rule_name"], rule["rule_type"]
        if rtype not in tables:
            continue
        checked.add(rtype)
        if rtype == "HISTORICAL_COMPLETENESS":
            assert verdicts[name] == detail_rows(tables[rtype], name, "status = 'FAIL'"), name
        elif rtype == "SPIKE_DIP":
            assert detail_rows(tables[rtype], name) >= verdicts[name], name
        else:
            assert verdicts[name] == detail_rows(tables[rtype], name), name
    assert checked == set(tables)
    assert [e for e in os.listdir(local_sink.base_path) if e.startswith(".")] == []


def test_rules_run_one_job_per_output():
    """The one-job contract: no rule calls .cache(), .persist() or a
    zero-argument .count() (verdict counts come from the detail write
    itself), and the engine caches no source table."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dq_true_north_spark")
    rules_dir = os.path.join(pkg, "rules")
    for fname in sorted(os.listdir(rules_dir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(rules_dir, fname)) as f:
            tree = ast.parse(f.read())
        hits = [
            node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and (node.func.attr in ("cache", "persist")
                 or (node.func.attr == "count" and not node.args and not node.keywords))
        ]
        assert hits == [], (fname, hits)
    with open(os.path.join(pkg, "engine.py")) as f:
        assert "cacheTable" not in f.read()


def test_driver_rows_build_no_python_rdd():
    """Driver-built rows become LocalRelations: in engine.py, io.py,
    catalog.py and rules/, the only createDataFrame call is the one inside
    io.local_rows (a pyarrow.Table), so no list-backed Python RDD remains."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dq_true_north_spark")
    rules_dir = os.path.join(pkg, "rules")
    paths = [os.path.join(pkg, f) for f in ("engine.py", "io.py", "catalog.py")] + [
        os.path.join(rules_dir, f) for f in sorted(os.listdir(rules_dir)) if f.endswith(".py")
    ]
    hits = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        allowed = {
            id(node) for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_rows"
            for node in ast.walk(fn)
        } if path.endswith("io.py") else set()
        hits += [
            (os.path.basename(path), node.lineno) for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame" and id(node) not in allowed
        ]
    assert hits == []


def _result_ddls():
    from dq_true_north_spark.engine import DQ_RESULTS_SCHEMA
    from dq_true_north_spark.rules.missing_data import DETAIL_SCHEMA
    from dq_true_north_spark.rules.sql_rule import COMPLETENESS_DETAIL_SCHEMA

    return {
        DQ_RESULTS_SCHEMA: [
            (7, "règle_é", None, "SPIKE_DIP", "SNOWPARK_FUNC", "3", "FAIL", None),
            (-1, None, "", "GENERIC", "SQL_QUERY", "", "ERROR", "ValueError: ☃ × 2"),
        ],
        DETAIL_SCHEMA: [
            ("md", "COUNT_MISMATCH", "2024-01-02", '{"count_t1": 1, "count_t2": 2}'),
            ("md", "TIMELINESS", None, "données"),
        ],
        COMPLETENESS_DETAIL_SCHEMA: [
            ("cmp", "2024-01-02", "N/A - Count Check", 2147483647),
            ("cmp", None, "日付", None),
        ],
    }


def test_local_rows_equal_list_frames(spark):
    """io.local_rows gives the same schema and rows as the list-backed
    createDataFrame for every result DDL the engine builds rows for, with
    NULLs, non-ASCII text, int columns and the empty row list, and its plan
    is a LocalRelation."""
    from dq_true_north_spark.io import local_rows

    for ddl, rows in _result_ddls().items():
        for case in (rows, rows[:1], []):
            got = local_rows(spark, case, ddl)
            want = spark.createDataFrame(case, ddl)
            assert got.schema == want.schema, ddl
            assert got.collect() == want.collect(), (ddl, case)
            plan = got._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


def test_run_catalog_summary_collect_runs_no_job(spark, tmp_path, jobs_run_by):
    """The summary run_catalog returns is a LocalRelation: collecting it
    submits no Spark job (a list-backed frame of the same rows does)."""
    from dq_true_north_spark.engine import DQ_RESULTS_SCHEMA

    load_tables(spark, SF_DIR, TABLES)
    summary = run_catalog(spark, [dict(r) for r in DEFAULT_CATALOG[:3]],
                          sink=ResultSink(str(tmp_path / "nojob")))
    rows = []
    assert jobs_run_by(lambda: rows.extend(summary.collect())) == set()
    assert len(rows) == 3
    listed = spark.createDataFrame([tuple(r) for r in rows], DQ_RESULTS_SCHEMA)
    assert len(jobs_run_by(listed.collect)) == 1


def _completeness_rule(rid, sql):
    return {
        "rule_id": rid, "rule_name": f"cmp_{rid}", "rule_type": "COMPLETENESS",
        "logic_implementation": "SQL_QUERY", "logic_definition": sql,
        "parameters": "{}", "segment_value": "", "is_active": True,
    }


def test_completeness_reads_first_row_only(spark, tmp_path):
    """A COMPLETENESS query returning many rows is judged on its first row,
    exactly as that row alone would be (both arms), and logs the same
    detail row; a query returning no rows is still an ERROR."""
    cases = [
        ("SELECT id AS missing FROM range(5000) ORDER BY id DESC",
         "SELECT CAST(4999 AS BIGINT) AS missing"),
        ("SELECT 'r', '2024-01-03', '2024-01-01', id + 2 AS days_missing "
         "FROM range(5000) ORDER BY id",
         "SELECT 'r', '2024-01-03', '2024-01-01', CAST(2 AS BIGINT) AS days_missing"),
        ("SELECT 'r', '2024-01-03', '2024-01-03', id AS days_missing "
         "FROM range(5000) ORDER BY id",
         "SELECT 'r', '2024-01-03', '2024-01-03', CAST(0 AS BIGINT) AS days_missing"),
    ]
    for i, (many, first) in enumerate(cases):
        out = {}
        for rid, sql in ((2 * i, many), (2 * i + 1, first)):
            s = ResultSink(str(tmp_path / f"cmp{rid}"))
            (row,) = run_catalog(spark, [_completeness_rule(rid, sql)], sink=s).collect()
            (detail,) = s.read(spark, "dq_details_completeness").drop(
                "rule_name", "execution_timestamp").collect()
            out[sql] = (row["result_value"], row["indicator"], detail)
        assert out[many] == out[first], (many, out)
    # the collect is bounded: a row past the first is never computed
    (row,) = run_catalog(spark, [_completeness_rule(98, (
        "SELECT IF(id = 0, 3, raise_error('read past the first row')) AS missing "
        "FROM range(5000)"))]).collect()
    assert (row["result_value"], row["indicator"]) == ("3", C.FAIL), row
    (row,) = run_catalog(spark, [_completeness_rule(99, "SELECT id FROM range(0)")]).collect()
    assert (row["indicator"], row["error_message"]) == (C.ERROR, "Query returned no rows")


def test_completeness_count_arm_dates_itself(spark, tmp_path, jobs_run_by):
    """The 1-column COMPLETENESS arm's detail row carries Spark's yesterday,
    read from the rule's own query: the arm runs no more jobs than the
    4-column arm, which reads its dates from the row."""
    arms = {
        "count": "SELECT id AS missing FROM range(3) ORDER BY id DESC",
        "detail": "SELECT 'r', '2024-01-03', '2024-01-01', id AS days_missing "
                  "FROM range(3) ORDER BY id DESC",
    }
    jobs, details = {}, {}
    for rid, (arm, sql) in enumerate(arms.items()):
        s = ResultSink(str(tmp_path / arm))
        jobs[arm] = len(jobs_run_by(lambda: run_catalog(
            spark, [_completeness_rule(rid, sql)], sink=s)))
        (details[arm],) = s.read(spark, "dq_details_completeness").collect()
    assert jobs["count"] == jobs["detail"], jobs
    yesterday = str(spark.sql("SELECT date_sub(current_date(), 1)").first()[0])
    count = details["count"]
    assert (count["expected_date"], count["actual_max_date"], count["days_missing"]) == (
        yesterday, "N/A - Count Check", 2)
    assert (details["detail"]["expected_date"], details["detail"]["days_missing"]) == (
        "2024-01-03", 2)


def test_detail_rows_equal_duck_renderings(spark, duck, tmp_path):
    """At sf0.01 the detail rows the engine writes for each rendered
    DEFAULT_CATALOG rule (execution_timestamp dropped) equal that rule's
    DUCK rendering run in DuckDB. Rule 2 packs o_orderdate, a timestamp,
    whose JSON text differs across the engines, so it is compared on its
    other columns; MISSING_DATA_NULLS's driver-built rows have no
    rendering."""
    from dq_true_north_spark.rules import (
        duplicates,
        historical,
        missing_data,
        negative_values,
        sigma,
        spike_dip,
        sql_rule,
        trend,
    )
    from dq_true_north_spark.textquality.spec import DUCK
    from tests.oracle import duck_canon, spark_canon

    def missing(d, rule, params):
        return (f"SELECT * FROM ({missing_data.render_nulls(d, rule, params)}) n "
                f"UNION ALL SELECT * FROM ({missing_data.render(d, rule, params)}) p")

    families = {
        "UNIQUENESS": (duplicates.render_uniqueness, "dq_duplicate_details"),
        "DUPLICATE_CHECK": (duplicates.render, "dq_duplicate_details"),
        "NEGATIVE_VALUES": (negative_values.render, "dq_negative_value_details"),
        "SPIKE_DIP": (spike_dip.render, "dq_details_spike_dip"),
        "SUSTAINED_TREND": (trend.render, "dq_sustained_trend_details"),
        "MISSING_DATA_NULLS": (missing, "dq_details_missing_data"),
        "HISTORICAL_COMPLETENESS": (historical.render, "dq_historical_completeness_details"),
        "ANOMALY_SIGMA": (sigma.render, "dq_anomaly_details"),
        "ROLLING_AVERAGE": (sql_rule.render_rolling_average, "dq_details_rolling_average"),
    }
    load_tables(spark, SF_DIR, TABLES)
    rules = [dict(r) for r in DEFAULT_CATALOG if r["rule_type"] in families]
    assert len(rules) == 10
    local_sink = ResultSink(str(tmp_path / "rendered"))
    run_catalog(spark, rules, sink=local_sink)
    for rule in rules:
        render, table = families[rule["rule_type"]]
        got = local_sink.read(spark, table).drop("execution_timestamp").filter(
            (F.col("rule_name") == rule["rule_name"])
            & ~F.col("failure_type").isin("TIMELINESS", "COUNT_MISMATCH")
            if rule["rule_type"] == "MISSING_DATA_NULLS"
            else F.col("rule_name") == rule["rule_name"])
        want = render(DUCK, rule, json.loads(rule["parameters"]))
        if rule["rule_id"] == 2:
            got = got.drop("duplicate_values")
            want = f"SELECT * EXCLUDE (duplicate_values) FROM ({want}) w"
        n, columns, digest = spark_canon(got)
        assert n > 0, rule["rule_name"]
        assert (n, columns, digest) == duck_canon(duck, want), rule["rule_name"]


def test_catalog_params_are_outside_input(spark, tmp_path):
    """Names from the catalog are quoted, never spliced into the SQL: a rule
    named o'brien ☃ writes that name verbatim to its detail table and to
    dq_results, columns named with quotes, backticks and backslashes
    resolve, and a params JSON naming a missing column is that rule's ERROR
    row, with the other rules' rows unchanged."""
    from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

    key, amount = 'k`e\'y "\\d"', "it's ☃"
    spark.createDataFrame(
        [(1, -2.5, "a"), (2, 3.0, "A"), (3, -1.25, "b")],
        StructType([StructField("id", IntegerType()), StructField(amount, DoubleType()),
                    StructField(key, StringType())]),
    ).createOrReplaceTempView("dq_odd_names_src")
    odd_name, neg_name = "o'brien ☃", "neg \\ ☃"
    rules = [
        _snowpark_rule(70, "DUPLICATE_CHECK", source_table="dq_odd_names_src",
                       columns_to_check=[key], case_insensitive_columns=[key]),
        _snowpark_rule(71, "NEGATIVE_VALUES", source_table="dq_odd_names_src",
                       numeric_columns=[amount], id_column="id"),
    ]
    rules[0]["rule_name"], rules[1]["rule_name"] = odd_name, neg_name
    missing = _snowpark_rule(72, "SPIKE_DIP", source_table="dq_odd_names_src",
                             metric_column="no_such_column", timestamp_col="id")

    def run(name, catalog):
        s = ResultSink(str(tmp_path / name))
        summary = {r["rule_id"]: tuple(r) for r in run_catalog(spark, catalog, sink=s).collect()}
        return s, summary

    s, summary = run("odd", rules + [missing])
    _, without = run("clean", rules)
    assert summary[72][6] == C.ERROR and "no_such_column" in summary[72][7], summary[72]
    assert {k: v for k, v in summary.items() if k != 72} == without
    assert summary[70][1:] == (odd_name, "", "DUPLICATE_CHECK", "SNOWPARK_FUNC", "1", C.FAIL, "")
    results = {r["rule_id"]: r["rule_name"] for r in s.read(spark, "dq_results").collect()}
    assert results == {70: odd_name, 71: neg_name, 72: missing["rule_name"]}
    (dup,) = s.read(spark, "dq_duplicate_details").collect()
    assert (dup["rule_name"], json.loads(dup["duplicate_values"]), dup["duplicate_count"]) == (
        odd_name, {key: "A"}, 2)
    negatives = sorted((r["rule_name"], r["field_name"], r["record_id"], r["negative_value"])
                       for r in s.read(spark, "dq_negative_value_details").collect())
    assert negatives == [(neg_name, amount, "1", -2.5), (neg_name, amount, "3", -1.25)]


def test_load_tables_views_follow_each_calls_sf_dir(spark, py4j_calls):
    """Rules read their sources by view name, so each view must point at
    the sf_dir of the last call that asked for it, whatever other views
    that call or an earlier one moved; a call whose views already point
    there makes no JVM call at all (no read, no job, no re-register)."""
    import duckdb

    def rows(sf_dir, table):
        return duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/{table}.parquet'").fetchone()[0]

    names = ("documents", "events")
    assert rows(SF_DIR, "events") != rows(SF_SMOKE, "events")
    try:
        load_tables(spark, SF_DIR, names)
        load_tables(spark, SF_SMOKE, names)
        load_tables(spark, SF_DIR, ("documents",))
        load_tables(spark, SF_DIR, ("events",))
        for t in names:
            assert spark.table(t).count() == rows(SF_DIR, t), t
        assert py4j_calls(lambda: load_tables(spark, SF_DIR, names)) == 0
    finally:
        load_tables(spark, SF_DIR, TABLES)
