"""Semantic regression tests for the round-2 ADVICE fixes.

1. Historical completeness is no longer a tautology: with the reference's
   window anchors (dq_rules_library.py:893-905,1007-1010,1030-1032) the
   deviation equals dropped_day_count, so a heavy day rolling out of the
   window makes the rule FAIL.
2. Sustained trend counts only increasing rows (reference filters
   is_increasing == 1 BEFORE the groupBy, dq_rules_library.py:1179): a run
   of N rising values is a streak of length N-1, not N.
3. The local oracle canon is driver-faithful: an un-cast DuckDB HUGEINT
   (float64 through pandas) hashes differently from a Spark BIGINT.
"""

from __future__ import annotations

import datetime
import json

import pytest

from dq_true_north_spark import constants as C
from dq_true_north_spark.engine import run_catalog


def _rule(rule_id, name, rtype, **params):
    return {
        "rule_id": rule_id, "rule_name": name, "rule_type": rtype,
        "logic_implementation": "SNOWPARK_FUNC", "logic_definition": "",
        "parameters": json.dumps(params), "segment_value": "",
        "is_active": True,
    }


def _hist_rows(lb: int, dropped_day_rows: int, per_day: int = 10):
    base = datetime.date(2024, 6, 1)
    rows = []
    rid = 0
    # days base .. base+lb  => newest = base+lb, window_start = base,
    # dropped day = base-1
    for day_off in range(0, lb + 1):
        for _ in range(per_day):
            rows.append((rid, "a", datetime.datetime.combine(
                base + datetime.timedelta(days=day_off),
                datetime.time(12, 0))))
            rid += 1
    for _ in range(dropped_day_rows):
        rows.append((rid, "a", datetime.datetime.combine(
            base - datetime.timedelta(days=1), datetime.time(12, 0))))
        rid += 1
    return rows


def _run_hist(spark, rows, lb):
    spark.createDataFrame(
        rows, "event_id int, event_type string, ts timestamp"
    ).createOrReplaceTempView("hist_sem_src")
    rule = _rule(
        60, "hist_sem", "HISTORICAL_COMPLETENESS",
        source_table="hist_sem_src", date_column="ts",
        dataset_column="event_type", tolerance_threshold=0.05,
        lookback_days=lb,
    )
    summary = run_catalog(spark, [rule])
    return summary.first()


def test_historical_completeness_fires_on_heavy_dropped_day(spark):
    """dropped day carries 100 rows vs expected 510 → 19.6% > 5% → FAIL."""
    lb = 60
    row = _run_hist(spark, _hist_rows(lb, dropped_day_rows=100), lb)
    assert row["indicator"] == C.FAIL, row
    assert row["result_value"] == "1"


def test_historical_completeness_passes_on_smooth_history(spark):
    """dropped day carries the same 10 rows as every window day →
    10/610 = 1.6% < 5% → PASS (the old tautology ALSO passed here; the
    FAIL case above is the discriminating one)."""
    lb = 60
    row = _run_hist(spark, _hist_rows(lb, dropped_day_rows=10), lb)
    assert row["indicator"] == C.PASS, row


def _run_trend(spark, values, threshold):
    base = datetime.datetime(2024, 6, 1, 12, 0)
    rows = [
        (i, "a", base + datetime.timedelta(hours=i), float(v))
        for i, v in enumerate(values)
    ]
    spark.createDataFrame(
        rows, "event_id int, event_type string, ts timestamp, value double"
    ).createOrReplaceTempView("trend_sem_src")
    rule = _rule(
        61, "trend_sem", "SUSTAINED_TREND",
        source_table="trend_sem_src", metric_column="value",
        timestamp_col="ts", segment_columns=["event_type"],
        tiebreak_columns=["event_id"], trend_days_threshold=threshold,
    )
    return run_catalog(spark, [rule]).first()


def test_trend_streak_counts_increases_not_rows(spark):
    """1→2→3 is TWO increases: below threshold 3 (the pre-fix code counted
    the group-start row too and fired one step early)."""
    row = _run_trend(spark, [1, 2, 3], threshold=3)
    assert row["indicator"] == C.PASS, row
    # 1→2→3→4 is three increases: fires at threshold 3
    row = _run_trend(spark, [1, 2, 3, 4], threshold=3)
    assert row["indicator"] == C.FAIL, row
    assert row["result_value"] == "1"


def test_oracle_canon_distinguishes_bigint_from_hugeint():
    """Reverting the CAST(... AS BIGINT) on windowed SUMs must fail locally:
    DuckDB HUGEINT → pandas float64 → '3.0' while Spark BIGINT → '3'."""
    import duckdb

    from tests.oracle import duck_canon

    con = duckdb.connect()
    _, _, h_raw = duck_canon(con, "SELECT SUM(x) AS s FROM (VALUES (1),(2)) t(x)")
    _, _, h_cast = duck_canon(
        con, "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)")
    con.close()
    assert h_raw != h_cast


@pytest.mark.parametrize("expected_zero_rows", [True])
def test_historical_zero_expected_is_pass(spark, expected_zero_rows):
    """Reference sets deviation_pct = 0.0 when expected = 0 (:1063-1067) —
    no divide-by-null FAIL."""
    base = datetime.datetime(2024, 6, 1, 12, 0)
    # all data on one single day: prev_cum = 0, dropped = 0, newest = n
    rows = [(i, "a", base) for i in range(5)]
    spark.createDataFrame(
        rows, "event_id int, event_type string, ts timestamp"
    ).createOrReplaceTempView("hist_zero_src")
    rule = _rule(
        62, "hist_zero", "HISTORICAL_COMPLETENESS",
        source_table="hist_zero_src", date_column="ts",
        dataset_column="event_type", tolerance_threshold=0.05,
        lookback_days=60,
    )
    row = run_catalog(spark, [rule]).first()
    # expected = 0 - 0 + 5 = 5, actual = 5 → deviation 0 → PASS
    assert row["indicator"] == C.PASS, row


def test_no_native_round_in_any_rendered_sql():
    """The unified floor-rounding invariant: no rendered SQL — EITHER
    dialect — may contain a native round() call (engines disagree at
    half-boundaries; CLAUDE.md invariant). Round-2 ADVICE #3: the guard now
    renders the Spark arm from the stored template too, so a round()
    introduced only on the Spark side also fails here."""
    import re

    from dq_true_north_spark.queries import registry
    from dq_true_north_spark.textquality.spec import DUCK, SPARK

    pat = re.compile(r"(?<![A-Za-z0-9_])round\s*\(", re.IGNORECASE)
    checked_spark = 0
    for name, q in registry().items():
        oracle = q.get("oracle")
        if oracle:
            assert not pat.search(oracle), f"{name}: native round() in oracle SQL"
        template = q.get("template")
        if template:
            for dialect in (SPARK, DUCK):
                assert not pat.search(template(dialect)), (
                    f"{name}: native round() in {dialect} SQL"
                )
            checked_spark += 1
    assert checked_spark >= 30  # the guard actually covers the sql queries


def test_malformed_parameters_json_is_isolated(spark):
    """A rule with broken PARAMETERS JSON yields ITS error row; the rest of
    the catalog still runs (dq_engine.py:125-138) — including the
    source-caching pre-pass, which must not parse outside isolation."""
    from dq_true_north_spark.catalog import DEFAULT_CATALOG

    bad = {
        "rule_id": 98, "rule_name": "bad_json", "rule_type": "SPIKE_DIP",
        "logic_implementation": "SNOWPARK_FUNC",
        "logic_definition": "", "parameters": "{not json",
        "segment_value": "", "is_active": True,
    }
    from dq_true_north_spark.session import load_tables
    from tests.conftest import SF_DIR, TABLES

    load_tables(spark, SF_DIR, TABLES)
    summary = run_catalog(spark, [bad, dict(DEFAULT_CATALOG[2])])
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["bad_json"]["indicator"] == C.ERROR
    assert "JSON" in rows["bad_json"]["error_message"] or \
           "Expecting" in rows["bad_json"]["error_message"]
    assert rows["customer_acctbal_negative"]["indicator"] in (C.PASS, C.FAIL)


# ------------------------------------------------- round-4 semantics pins --


def test_knuth_hash32_overflow_safe_cross_engine(spark):
    """VERDICT r3 wrong #3: the unmasked `doc_id * 2654435761` wraps in
    Spark (non-ANSI BIGINT) but promotes in DuckDB once ids pass ~3.4e9.
    knuth_hash32 pre-masks to 31 bits so both engines compute the identical
    value at ANY BIGINT id — pinned here at 2^40 and friends."""
    import duckdb

    from dq_true_north_spark.queries import (
        knuth_bucket,
        knuth_hash32,
        knuth_hash_fraction,
    )

    ids = [0, 1, 12345, 2**31 - 1, 2**31, 2**40, 2**62, 2**63 - 1,
           -1, -12345, -(2**40)]     # negative ids must hash NON-negative
    vals = ", ".join(f"({i})" for i in ids)
    sql = (
        f"SELECT doc_id, {knuth_hash32('doc_id')} AS h, "
        f"{knuth_hash_fraction('doc_id')} AS f, "
        f"{knuth_bucket('doc_id', 16)} AS b "
        f"FROM (VALUES {vals}) t(doc_id) ORDER BY doc_id"
    )
    got_spark = [(r["doc_id"], r["h"], r["f"], r["b"])
                 for r in spark.sql(sql).collect()]
    got_duck = [
        (int(a), int(b), float(c), int(d))
        for a, b, c, d in duckdb.connect().execute(sql).fetchall()
    ]
    assert got_spark == got_duck
    for _, h, f, b in got_spark:
        assert 0 <= h < 2**32 and 0.0 <= f < 1.0 and 0 <= b < 16


def test_knuth_bucket_mixes_strided_ids(spark):
    """`knuth_hash32 % 16` was the id's own low 4 bits (2654435761 is odd,
    so the multiply is the identity mod 2^k) — a strided id allocator
    (all ids multiples of 16) collapsed every row into shard 0, silently
    re-funneling the sharded pack window into one reducer. knuth_bucket
    takes HIGH bits; strided ids must spread across buckets."""
    from dq_true_north_spark.queries import knuth_bucket

    vals = ", ".join(f"({i * 16})" for i in range(256))
    rows = spark.sql(
        f"SELECT {knuth_bucket('doc_id', 16)} AS b "
        f"FROM (VALUES {vals}) t(doc_id)"
    ).collect()
    buckets = {r["b"] for r in rows}
    assert len(buckets) >= 12, f"strided ids hit only buckets {sorted(buckets)}"


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_percentile_approx_matches_rank_rule(spark, sf):
    """The length_band_filter_approx cross-engine contract: Spark's
    percentile_approx at accuracy >= n equals the ceil(p*n)-th smallest
    value — the exact rank rule the DuckDB oracle arm states. Pinned at all
    three SFs so a driver run at any scale stays hash-green.

    The rank is FLOAT-derived by design (0.1*500 -> 50.000...007 -> CEIL
    51; exact integer arithmetic would give 50 and diverge from Spark) and
    the contract is pinned EMPIRICALLY — when a new SF directory is added
    to the testdata, EXTEND the parametrize list here BEFORE registering
    any query at that scale (ADVICE r4 #3; full caveat at the
    length_band_filter_approx docstring)."""
    import math

    import duckdb

    path = f"/root/testdata/sf{sf}/documents.parquet"
    docs = spark.read.parquet(path)
    got = docs.selectExpr(
        "percentile_approx(n_chars, 0.1, 1000000) AS lo",
        "percentile_approx(n_chars, 0.9, 1000000) AS hi",
    ).first()
    vals = [
        r[0] for r in duckdb.connect().execute(
            f"SELECT n_chars FROM read_parquet('{path}') ORDER BY n_chars"
        ).fetchall()
    ]
    n = len(vals)
    assert got["lo"] == vals[max(math.ceil(0.1 * n), 1) - 1]
    assert got["hi"] == vals[max(math.ceil(0.9 * n), 1) - 1]


def test_length_band_approx_vs_exact_ntile(spark):
    """Membership relation between the two-pass value filter and the exact
    NTILE deciles: they may disagree ONLY at docs tied on a cutoff value
    (a value filter keeps/drops whole tie groups; ntile splits them)."""
    from dq_true_north_spark.queries import registry
    from tests.conftest import SF_DIR

    reg = registry()
    approx = {
        r["doc_id"]: (r["keep_band"], r["n_chars"], r["lo_cutoff"], r["hi_cutoff"])
        for r in reg["length_band_filter_approx"]["spark"](spark, SF_DIR).collect()
    }
    exact = {
        r["doc_id"]: r["keep_band"]
        for r in reg["length_decile_bands"]["spark"](spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    disagree = [d for d in approx if approx[d][0] != exact[d]]
    for d in disagree:
        _, n_chars, lo, hi = approx[d]
        assert n_chars in (lo, hi), (
            f"doc {d} disagrees away from a cutoff: n_chars={n_chars}, "
            f"cutoffs=({lo}, {hi})"
        )


def test_sharded_packs_match_pure_python_spec(spark):
    """token_budget_packs_sharded recomputed row-for-row in plain Python:
    per-shard greedy cumsum packing with offsets = running pack totals of
    lower shards. Also asserts the budget boundary rule (a doc's pack is
    where its starting offset falls) and global pack-id contiguity."""
    from dq_true_north_spark.queries import registry
    from tests.conftest import SF_DIR

    reg = registry()
    rows = reg["token_budget_packs_sharded"]["spark"](spark, SF_DIR).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)

    expected: dict[int, int] = {}
    offset = 0
    for shard in sorted(by_shard):
        cum = 0
        max_local = -1
        for r in sorted(by_shard[shard], key=lambda r: r["doc_id"]):
            local = cum // 2048
            expected[r["doc_id"]] = offset + local
            max_local = max(max_local, local)
            cum += r["tokens"]
        offset += max_local + 1

    got = {r["doc_id"]: r["pack_id"] for r in rows}
    assert got == expected
    # NOTE: no global-contiguity assertion — a document spanning more than
    # one 2048-token budget legitimately skips pack ids (floor(before /
    # budget) boundary rule), so contiguity is a property of THIS data,
    # not of the query. The row-for-row spec recompute above reproduces
    # any gaps identically.


def test_round4_signed_half_boundaries_cross_engine(spark):
    """ADVICE r3 #3: sign-carrying display columns round half-AWAY-from-zero
    — -0.00005 must become -0.0001, not the floor-round4 +inf flip to 0.0 —
    and the rendering is bit-identical across Spark and DuckDB."""
    import duckdb

    from dq_true_north_spark.textquality.spec import round4_signed

    cases = [-0.00005, 0.00005, -0.12345, 0.12345, -1.5, 0.0, 2.00005]
    expected = [-0.0001, 0.0001, -0.1235, 0.1235, -1.5, 0.0, 2.0001]

    vals = ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in cases)
    sql = f"SELECT {round4_signed('x')} AS r FROM (VALUES {vals}) t(x)"
    got_spark_sql = [r["r"] for r in spark.sql(sql).collect()]
    got_duck = [float(r[0]) for r in duckdb.connect().execute(sql).fetchall()]

    assert got_spark_sql == expected
    assert got_duck == expected


def test_dialect_quoting_agrees_cross_engine(spark):
    """spec.lit, spec.ident and spec.json_cols render catalog names the same
    way in Spark and DuckDB: quotes, backticks, backslashes and non-ASCII
    text come through verbatim, and a NULL field is left out of the JSON
    object in both (Spark's to_json drops it)."""
    import duckdb

    from dq_true_north_spark.textquality.spec import (
        DUCK,
        SPARK,
        ident,
        json_cols,
        lit,
        str_t,
    )

    name = 'o\'brien ☃ `q` "d" \\d'

    def sql(d):
        return (f"SELECT {lit(d, name)} AS s, {json_cols(d, [name, 'v'])} AS j "
                f"FROM (SELECT CAST(NULL AS {str_t(d)}) AS {ident(d, name)}, 1 AS v "
                f"UNION ALL SELECT {lit(d, name)}, 2) t")

    got_spark = sorted(tuple(r) for r in spark.sql(sql(SPARK)).collect())
    got_duck = sorted((s, str(j)) for s, j in duckdb.connect().execute(sql(DUCK)).fetchall())
    full = json.dumps({name: name, "v": 2}, separators=(",", ":"), ensure_ascii=False)
    assert got_spark == got_duck == sorted([(name, '{"v":1}'), (name, full)])


def test_doc_chunks_tile_with_overlap(spark):
    """Chunking semantics on a doc long enough to need several windows
    (sf0.01 docs are all single-chunk): 500-char chunks at stride 400,
    consecutive chunks share exactly 100 chars, the stride concatenation
    reconstructs the document, and the final chunk reaches the tail.
    Cross-engine: the DuckDB arm produces the identical chunk set."""
    import duckdb

    from dq_true_north_spark.queries import registry
    from dq_true_north_spark.textquality.spec import DUCK, SPARK

    text = "".join(chr(97 + (i * 7) % 26) for i in range(1337))
    tmpl = registry()["doc_chunks"]["template"]

    spark.createDataFrame([(1, text)], "doc_id long, text string") \
        .createOrReplaceTempView("chunk_probe")
    rows = sorted(
        (r["chunk_idx"], r["chunk_text"]) for r in spark.sql(
            tmpl(SPARK).replace("FROM documents", "FROM chunk_probe")
        ).collect()
    )
    assert len(rows) == 4                    # 1 + ceil((1337-500)/400)
    for i, (idx, chunk) in enumerate(rows):
        assert idx == i
        assert chunk == text[i * 400 : i * 400 + 500]
    for (_, a), (_, b) in zip(rows, rows[1:]):
        assert a[400:] == b[:100]            # exact 100-char overlap
    rebuilt = rows[0][1] + "".join(c[100:] for _, c in rows[1:])
    assert rebuilt == text                   # full coverage, tail included

    con = duckdb.connect()
    con.execute("CREATE TABLE chunk_probe AS SELECT 1 AS doc_id, ? AS text",
                [text])
    duck_rows = sorted(
        (int(i), c) for _doc, i, c, _n in con.execute(
            tmpl(DUCK).replace("FROM documents", "FROM chunk_probe")
        ).fetchall()
    )
    assert duck_rows == rows
