"""End-to-end quality-filter pipeline vs the golden reference implementation.

Gates (BASELINE.json): keep/drop F1 >= 0.99, byte-identical scrubbed text
per url, determinism across parallelism, scrub idempotence.
"""

from __future__ import annotations

import duckdb
import pytest

from dq_true_north_spark import constants as C
from dq_true_north_spark.corpus import generate_pages_pdf, pages_df, PAGES_SCHEMA
from dq_true_north_spark.textquality.pipeline import compute_verdicts, verdict_summary
from dq_true_north_spark.textquality.scrub import scrub_sql_expr, scrub_text
from tests.golden import golden_verdicts

N_PAGES = 2000


@pytest.fixture(scope="module")
def pages_pdf():
    return generate_pages_pdf(N_PAGES)


@pytest.fixture(scope="module")
def golden(pages_pdf):
    g = golden_verdicts(pages_pdf)
    return {(r["url"], r["warc_ts"]): r for _, r in g.iterrows()}


@pytest.fixture(scope="module")
def spark_verdicts(spark, pages_pdf):
    pages = pages_df(spark, N_PAGES, partitions=8)
    return {(r["url"], r["warc_ts"]): r for r in compute_verdicts(pages).collect()}


def test_generator_determinism(spark, pages_pdf):
    """Distributed generator rows == driver-side rows, any partitioning."""
    sp = pages_df(spark, 200, partitions=7).orderBy("url", "warc_ts").collect()
    pd_rows = generate_pages_pdf(200).sort_values(["url", "warc_ts"])
    assert len(sp) == 200
    for row, (_, g) in zip(sp, pd_rows.iterrows()):
        assert row["url"] == g["url"]
        assert row["text"] == g["text"]
        assert row["lang"] == g["lang"]
        assert bytes(row["html"]) == g["html"]


def test_keep_drop_f1(spark_verdicts, golden):
    """north_rule gate: F1 >= 0.99 on the keep label."""
    tp = fp = fn = tn = 0
    for key, g in golden.items():
        s = spark_verdicts[key]
        gk, sk = bool(g["keep"]), bool(s["keep"])
        if sk and gk:
            tp += 1
        elif sk and not gk:
            fp += 1
        elif not sk and gk:
            fn += 1
        else:
            tn += 1
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"F1={f1:.4f} (tp={tp} fp={fp} fn={fn} tn={tn})"


def test_drop_reasons_match(spark_verdicts, golden):
    """Reason lists match exactly (frozen order) on >=99% of documents."""
    total = agree = 0
    for key, g in golden.items():
        s = spark_verdicts[key]
        total += 1
        if list(s["drop_reasons"]) == list(g["drop_reasons"]):
            agree += 1
    assert agree / total >= 0.99, f"reason agreement {agree}/{total}"


def test_scrub_byte_identical(spark_verdicts, golden):
    """north_rule gate: byte-identical scrubbed text per url (JVM
    regexp_replace chain vs Python re golden)."""
    checked = mismatched = 0
    for key, g in golden.items():
        s = spark_verdicts[key]
        checked += 1
        if s["scrubbed_text"] != g["scrubbed_text"]:
            mismatched += 1
    assert checked > 0
    assert mismatched == 0, f"{mismatched}/{checked} scrub mismatches"


def test_scrub_actually_scrubbed(golden):
    """Planted PII (class 10) must be removed in the fixtures themselves."""
    import pandas as pd

    dirty = [g["scrubbed_text"] for g in golden.values()]
    joined = "\n".join(dirty)
    assert "john.doe@example.com" not in joined
    assert "192.168.1.10" not in joined
    assert "123-45-6789" not in joined
    assert "badword" not in joined.lower() or "<TOX>" in joined
    assert "<EMAIL>" in joined and "<IP>" in joined and "<SSN>" in joined


def test_scrub_idempotent(pages_pdf):
    """scrub(scrub(x)) == scrub(x) — property per SURVEY.md §5.4."""
    for t in pages_pdf["text"].head(300):
        once = scrub_text(t)
        assert scrub_text(once) == once


def test_scrub_duckdb_parity(pages_pdf):
    """Same chain rendered for DuckDB RE2 gives identical output."""
    con = duckdb.connect()
    sub = pages_pdf[["url", "text"]].head(300)
    con.register("pages", sub)
    expr = scrub_sql_expr(False, "text")
    out = con.execute(f"SELECT text, {expr} AS s FROM pages").fetchall()
    for text, s in out:
        assert s == scrub_text(text)


def test_determinism_across_parallelism(spark):
    """local[8]-style 8-partition run == 2-partition run, exactly
    (SURVEY.md §7 hard-point 3)."""
    v1 = compute_verdicts(pages_df(spark, 500, partitions=2)).collect()
    v2 = compute_verdicts(pages_df(spark, 500, partitions=16)).collect()
    k1 = {(r["url"], r["warc_ts"]): (r["keep"], tuple(r["drop_reasons"]), r["scrubbed_text"]) for r in v1}
    k2 = {(r["url"], r["warc_ts"]): (r["keep"], tuple(r["drop_reasons"]), r["scrubbed_text"]) for r in v2}
    assert k1 == k2


def test_exact_dup_keeps_exactly_one(spark_verdicts, golden):
    """Each duplicate text group keeps exactly the earliest (warc_ts, url)."""
    import collections

    by_text_kept = collections.Counter()
    for key, g in golden.items():
        s = spark_verdicts[key]
        if C.REASON_EXACT_DUP in list(s["drop_reasons"]):
            by_text_kept["dropped"] += 1
    assert by_text_kept["dropped"] > 0  # planted class 7/8 pairs exist


def test_verdict_summary_rollup(spark):
    pages = pages_df(spark, 400, partitions=4)
    v = compute_verdicts(pages, with_scrub=False)
    row = verdict_summary(v).first()
    assert row["total_docs"] == 400
    assert 0 < row["kept_docs"] < 400
    assert row["too_short_count"] == 20  # class 0 plants exactly 1 in 20


def test_dedup_strategy_parity_and_auto(spark, jobs_run_by):
    """broadcast == shuffle == auto verdicts, row-for-row. auto broadcasts
    the small loser set on Spark's size statistics alone; with the
    statistics ruling broadcast out it runs the sketch, which keeps the
    broadcast on the low-dup corpus and picks the full-shuffle plan on a
    50%-dup corpus — never an unhinted sort-merge join back."""
    from pyspark.sql import functions as F

    from dq_true_north_spark.textquality.pipeline import (
        BROADCAST_DUP_FRACTION_MAX,
        estimate_dup_fraction,
    )

    pages = pages_df(spark, 500, partitions=8)
    half_dup = pages.select("url", "warc_ts", F.lit("same text").alias("text"))

    def key(rows):
        return {
            (r["url"], r["warc_ts"]): (r["keep"], tuple(r["drop_reasons"]))
            for r in rows
        }

    def verdicts(strategy, p=pages):
        return compute_verdicts(p, with_scrub=False, dedup_strategy=strategy)

    def executed_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    vb = key(verdicts("broadcast").collect())
    vs = key(verdicts("shuffle").collect())
    auto = verdicts("auto")
    va = key(auto.collect())
    assert vb == vs == va
    assert "BroadcastHashJoin" in executed_plan(auto)

    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        assert jobs_run_by(lambda: verdicts("auto")), "no sketch pre-pass"
        sketched = verdicts("auto")
        assert key(sketched.collect()) == va
        assert "BroadcastHashJoin" in executed_plan(sketched)
        high = verdicts("auto", half_dup)
        plan = executed_plan(high)
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
        assert key(high.collect()) == key(verdicts("shuffle", half_dup).collect())
    finally:
        spark.conf.set(conf, saved)

    assert estimate_dup_fraction(pages) <= BROADCAST_DUP_FRACTION_MAX
    assert estimate_dup_fraction(half_dup) > BROADCAST_DUP_FRACTION_MAX


def test_verdict_plans_build_without_jobs(spark, jobs_run_by):
    """Building compute_verdicts submits no Spark job: Spark's size
    statistics let auto broadcast the loser set without its dedup sketch."""
    pages = pages_df(spark, 400, partitions=4)
    assert jobs_run_by(lambda: compute_verdicts(pages)) == set()


#: py4j round trips to build compute_verdicts(pages) plus
#: minhash_candidate_pairs(pages), its bucket census included, measured on
#: PySpark 4.1.2 (3,824 before the wide projections were parsed from SQL
#: text, 1,012 before the LSH stage was)
PLAN_BUILD_ROUND_TRIPS = 533


def test_plan_building_py4j_budget(spark, py4j_calls):
    """Plan building stays bound by SQL text, not Column-DSL nodes: each DSL
    node is a driver-to-JVM round trip."""
    from dq_true_north_spark.textquality.dedup import minhash_candidate_pairs

    pages = pages_df(spark, 400, partitions=4)

    def build():
        compute_verdicts(pages)
        minhash_candidate_pairs(pages)

    build()   # first use resolves JVM classes and functions
    calls = py4j_calls(build)
    print(f"plan-building py4j round trips: {calls}")
    assert calls <= 1.5 * PLAN_BUILD_ROUND_TRIPS, calls


def test_canonical_url_three_way_and_idempotent(spark, duck):
    """urlnorm chain: Spark SQL == DuckDB == Python reference on the
    rule-covering literal set + corpus urls; canonicalization idempotent."""
    from dq_true_north_spark.queries import _URL_CASES, registry
    from dq_true_north_spark.textquality.urlnorm import (
        canonical_url,
        canonical_url_sql,
    )
    from tests.oracle import assert_parity

    q = registry()["canonical_urls"]
    sdf = q["spark"](spark, "/root/testdata/sf0.01")
    assert_parity(sdf, duck, q["oracle"], "canonical_urls")
    rows = {r["url"]: r["canonical_url"] for r in sdf.collect()}
    for u in _URL_CASES:
        assert rows[u] == canonical_url(u), u
        # idempotent: canon(canon(x)) == canon(x)
        assert canonical_url(rows[u]) == rows[u], u
    assert rows["https://h.io/p?a=1&utm_medium=m&b=2"] == "https://h.io/p?a=1&b=2"

    # corpus urls survive the Spark expression unchanged-or-normalized
    from dq_true_north_spark.corpus import pages_df
    from pyspark.sql import functions as F

    pages = pages_df(spark, 200, partitions=2)
    expr = canonical_url_sql(True, "url")
    out = pages.select("url", F.expr(expr).alias("c")).collect()
    for r in out:
        assert r["c"] == canonical_url(r["url"])


def test_spark_flags_match_python_golden(spark):
    """The Spark rendering of spec's staged heuristic flags (what
    compute_verdicts runs) raises exactly golden.heuristic_reasons on the
    planted corpus and on whitespace/empty/line edge rows, and no flag on a
    NULL text. The DuckDB rendering is held to the same golden by
    tests/test_properties.py."""
    from dq_true_north_spark.textquality import spec
    from tests.golden import heuristic_reasons

    edge = [
        ("e-empty", ""),
        ("e-ws", "   \n\t \n"),
        ("e-oneword", "hello"),
        ("e-bullets", "- a b\n* c d\n•e f\n- g h"),
        ("e-ellipsis", "one two three...\nfour five..."),
        ("e-dup", "same line here\nsame line here\nsame line here"),
        ("e-null", None),
    ]
    df = pages_df(spark, 500).select("url", "text").unionByName(
        spark.createDataFrame(edge, "url string, text string")
    )
    staged = df.selectExpr("url", "text", *spec.hoisted(spec.SPARK, "text"))
    flags = staged.selectExpr("url", "text", *spec.drop_flags(spec.SPARK, "text"))
    reasons = [r for r, _ in spec.heuristic_drop_predicates(spec.SPARK, "text")]
    rows = flags.collect()
    assert len(rows) == 507
    for r in rows:
        hits = [c for c in reasons if r[c] == 1]
        want = [] if r["text"] is None else heuristic_reasons(r["text"])
        assert hits == want, (r["url"], r["text"])


def test_unknown_dedup_strategy_raises(spark, tmp_path):
    """An unknown dedup_strategy is an error, not a silent shuffle plan —
    also through run_quality_pipeline, which passes it on."""
    from dq_true_north_spark.lineage import run_quality_pipeline

    pages = pages_df(spark, 20)
    for bad in ("Broadcast", "hash", ""):
        with pytest.raises(ValueError, match="dedup_strategy"):
            compute_verdicts(pages, dedup_strategy=bad)
    with pytest.raises(ValueError, match="dedup_strategy"):
        run_quality_pipeline(spark, pages, str(tmp_path), "r1",
                             dedup_strategy="Broadcast")
