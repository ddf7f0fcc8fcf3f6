"""The corpus quality-filter pipeline — one pass over the pages table.

north_rule pipeline: langid → perplexity → Gopher/C4 heuristics →
exact-text dedup → PII/toxicity scrub → per-url verdict
(keep, drop_reasons, scrubbed_text).

Plan shape (deliberate, for 100 TB):
  stage 1  scan + wide projection: ALL heuristic flags as codegen'd Column
           exprs + the two Arrow UDF columns (langid, perplexity) — one scan;
  stage 2  the keep-first dedup window (skew-bounded: identical-text groups
           are small by construction; pathological cases are capped by AQE
           skew handling): ONE shuffle of the (url, warc_ts, text_hash) keys
           only, the loser keys broadcast back — or, for a loser set too
           large to broadcast, ONE full-width shuffle (see 'auto' below);
  stage 3  verdict assembly + scrub, all codegen — no further shuffle.

Building the plan is cheap on the driver: the wide projections are parsed
from SQL text rather than assembled one py4j round trip per Column node, and
it runs no Spark job unless 'auto' dedup needs its sketch pre-pass. In a
resumable run (lineage.run_quality_pipeline) the verdicts are read back with
the schema the run manifest records, and the summary row is rolled up from
the per-partition lineage rows.

The reference's N-scans-per-rule pattern (dq_rules_library.py, one query per
rule) is intentionally replaced by this single-pass design (SURVEY.md §3.1).

Language gates (mirrored exactly in tests/golden.py):
  word-level rules (mean_word_len, non_alpha) — latin-script langs only;
  stopword rule — English only;
  perplexity — scored under the PREDICTED language's own model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import constants as C
from . import spec
from .scrub import scrub_sql_expr
from .udfs import lang_ppl_udf


#: auto strategy switches to the full-shuffle plan above this duplicate
#: fraction — beyond it the loser set is too large to broadcast safely
#: (keep_representatives applies the same bound to its near-dup losers)
BROADCAST_DUP_FRACTION_MAX = 0.10


def estimate_dup_fraction(pages: DataFrame) -> float:
    """Cheap sketch pre-pass: 1 − approx_distinct(text)/count via HLL++
    over a JVM xxhash64 of the text (one narrow scan, no shuffle of note).
    compute_verdicts' 'auto' runs it only when Spark's size statistics
    cannot rule the loser set broadcastable."""
    row = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.xxhash64("text"), 0.02).alias("d"),
    ).first()
    if not row["n"]:
        return 0.0
    return max(0.0, 1.0 - row["d"] / row["n"])


def broadcast_limit(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1: broadcast off)."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _broadcastable(df: DataFrame) -> bool:
    """Spark's join planner's own size test, read without running a job:
    the optimized plan's size estimate is within
    spark.sql.autoBroadcastJoinThreshold."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= broadcast_limit(df.sparkSession)


def _double(x: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal (a bare 0.9 is a
    DECIMAL), the type F.lit gives it."""
    return f"{x!r}D"


def _in(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def compute_verdicts(
    pages: DataFrame,
    with_scrub: bool = True,
    dedup_strategy: str = "auto",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → verdicts per url.

    The wide projections are parsed from SQL text: each DataFrame-DSL
    Column node is a py4j round trip, so the per-reason columns are
    rendered as strings for one selectExpr. Building the plan runs no
    Spark job unless 'auto' runs its sketch.

    dedup_strategy:
      'auto' (default): 'broadcast' when Spark's size statistics put the
        loser set under spark.sql.autoBroadcastJoinThreshold — read from the
        plan, no job. Otherwise an HLL++ sketch pre-pass estimates the
        duplicate fraction and picks 'broadcast' at or below
        BROADCAST_DUP_FRACTION_MAX (typical crawl slices), else 'shuffle'
        (boilerplate mirrors, 20–50% dup crawls) — an unbounded broadcast
        of the loser set would OOM the executors exactly on those corpora.
        The unhinted keys-only join is never left to Spark: the statistics
        estimate the loser set from the pages scan, so on large inputs it
        would sort-merge and shuffle the full row on top of the keys.
      'broadcast': the dedup shuffle carries ONLY (url, warc_ts, text_hash)
        — ~100 bytes/row instead of the full document — and the loser set
        (duplicate occurrences) is broadcast-joined back. The wide row never
        crosses the network; text is md5'd exactly once (keys scan).
        PRECONDITION: (url, warc_ts) unique per row — the loser set is
        dropDuplicates'd on that key so a violating input degrades to
        marking every copy as dup instead of inflating the row count.
      'shuffle': single full-width exchange + window — always correct.
    Any other value raises ValueError.
    """
    if dedup_strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError("dedup_strategy must be 'auto', 'broadcast' or "
                         f"'shuffle', got {dedup_strategy!r}")
    model = lang_ppl_udf(F.col("text"))   # one Arrow hop for both models
    # the heuristic flags read the words/lines arrays of spec's staged
    # projection — the same rendering the doc_* queries and their oracles run
    flagged = pages.selectExpr(
        "url", "warc_ts", "text", *spec.hoisted(spec.SPARK, "text")
    ).select(
        "url",
        "warc_ts",
        "text",
        *map(F.expr, spec.drop_flags(spec.SPARK, "text")),
        model.getField("pred_lang").alias("pred_lang"),
        model.getField("lang_confidence").alias("lang_confidence"),
        model.getField("perplexity").alias("perplexity"),
    )

    # keep-first exact dedup: stable tie-break (warc_ts, url) — never
    # partition-order dependent (SURVEY.md §7 hard-point 3)
    dup_win = Window.partitionBy("text_hash").orderBy("warc_ts", "url")
    if dedup_strategy in ("auto", "broadcast"):
        losers = (
            pages.select("url", "warc_ts", F.md5("text").alias("text_hash"))
            .withColumn("_rn", F.row_number().over(dup_win))
            .filter(F.col("_rn") > 1)
            .select("url", "warc_ts")
            .dropDuplicates(["url", "warc_ts"])   # join-key uniqueness guard
            .withColumn("_is_dup", F.lit(1))
        )
        if (dedup_strategy == "auto" and not _broadcastable(losers)
                and estimate_dup_fraction(pages) > BROADCAST_DUP_FRACTION_MAX):
            dedup_strategy = "shuffle"
    if dedup_strategy in ("auto", "broadcast"):
        flagged = flagged.join(F.broadcast(losers), ["url", "warc_ts"], "left")
        exact_dup = "coalesce(_is_dup, 0)"
    else:
        flagged = (
            flagged.withColumn("text_hash", F.md5("text"))
            .withColumn(
                C.REASON_EXACT_DUP,
                (F.row_number().over(dup_win) > 1).cast("int"),
            )
            .drop("text_hash")
        )
        exact_dup = C.REASON_EXACT_DUP

    # language gates: word-level rules for latin-script languages only,
    # the stopword rule for English only
    latin = f"pred_lang IN ({_in(C.LATIN_LANGS)})"
    reason = {r: r for r in C.DROP_REASON_ORDER}
    reason[C.REASON_EXACT_DUP] = exact_dup
    for r, cond in ((C.REASON_MEAN_WORD_LEN, latin),
                    (C.REASON_NON_ALPHA, latin),
                    (C.REASON_STOPWORDS, "pred_lang = 'en'")):
        reason[r] = f"CASE WHEN NOT ({cond}) THEN 0 ELSE {r} END"
    reason[C.REASON_BAD_LANG] = (
        f"CAST(NOT (pred_lang IN ({_in(C.ALLOWED_LANGS)})) AS INT)")
    reason[C.REASON_LANG_CONF] = (
        f"CAST(lang_confidence < {_double(C.MIN_LANG_CONFIDENCE)} AS INT)")
    reason[C.REASON_PERPLEXITY] = (
        f"CAST(perplexity > {_double(C.MAX_PERPLEXITY)} AS INT)")
    passthrough = ["url", "warc_ts", "pred_lang", "lang_confidence", "perplexity"]
    gated = flagged.selectExpr(
        *passthrough, "text", *[f"{e} AS {r}" for r, e in reason.items()]
    )

    reasons = list(C.DROP_REASON_ORDER)
    hit_names = ", ".join(f"CASE WHEN {r} = 1 THEN '{r}' END" for r in reasons)
    return gated.selectExpr(
        *passthrough,
        f"({' + '.join(reasons)}) = 0 AS keep",
        f"array_compact(array({hit_names})) AS drop_reasons",
        *([f"{scrub_sql_expr(True, 'text')} AS scrubbed_text"] if with_scrub else []),
        f"map_from_arrays(array({_in(reasons)}), "
        f"array({', '.join(f'CAST({r} AS INT)' for r in reasons)})) AS rule_hits",
    )


def verdict_summary(verdicts: DataFrame) -> DataFrame:
    """Corpus-level rollup: kept/dropped counts + per-reason hit totals —
    the summary row analog of DQ_RESULTS (dq_engine.py:37-44). A pipeline
    run rolls the same row up from its lineage stage instead
    (lineage.summary_of_lineage)."""
    return verdicts.agg(*map(F.expr, [
        "count(1) AS total_docs",
        "sum(CAST(keep AS INT)) AS kept_docs",
        *[f"sum(element_at(rule_hits, '{r}')) AS {r}_count"
          for r in C.DROP_REASON_ORDER],
    ]))
