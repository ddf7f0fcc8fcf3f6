#!/usr/bin/env python
"""Regenerate PLANS.md: capture formatted physical plans for the headline
operators with commentary on pushdown/codegen/shuffle shape."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dq_true_north_spark import queries as Q  # noqa: E402
from dq_true_north_spark.corpus import pages_df  # noqa: E402
from dq_true_north_spark.session import get_spark  # noqa: E402
from dq_true_north_spark.textquality.dedup import minhash_candidate_pairs  # noqa: E402
from dq_true_north_spark.textquality.pipeline import compute_verdicts  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"

HDR = """# PLANS — physical-plan evidence for the headline operators

Captured from `.explain("formatted")` on Spark 4.1 with AQE enabled, after
each frame has run: every tree is AQE's final (executed) plan, and the plan
details quote its `isFinalPlan=true`. What to look for in each plan:
filters/column pruning reaching the parquet scan (`ReadSchema`,
`PushedFilters`), WholeStageCodegen spans covering the expression work, ONE
exchange per semantic shuffle, Arrow (`ArrowEvalPython`) only where a model
genuinely needs Python, and broadcast joins for small sides. Regenerate with
`python tools/gen_plans.py`.
"""


def main() -> None:
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    reg = Q.registry()
    sections = []

    def cap(title, df, notes):
        # run the frame through its own QueryExecution first: before an
        # action AQE shows only its initial plan, which can pick a
        # different broadcast side than the plan that actually runs
        df.collect()
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "isFinalPlan=false" not in s, title
        tree_end = s.find("\n\n(1) ")
        tree = s[:tree_end] if tree_end > 0 else s[:2500]
        tree = tree.split("\n+- == Initial Plan ==")[0]
        details = "\n".join(
            l.strip()
            for l in s.splitlines()
            if "ReadSchema" in l or "PushedFilters" in l or "isFinalPlan" in l
        )[:1500]
        sections.append(
            f"## {title}\n\n{notes}\n\n```\n{tree.strip()}\n```\n"
            + (f"\nPlan details:\n```\n{details}\n```\n" if details else "")
        )

    for t in ("documents", "events", "embeddings"):
        spark.read.parquet(f"{SF}/{t}.parquet").createOrReplaceTempView(t)

    cap(
        "Flagship corpus pipeline (compute_verdicts)",
        compute_verdicts(pages_df(spark, 1000, 4)),
        "One scan -> wide codegen projection (all heuristic flags, common-"
        "subexpression-eliminated) -> ONE ArrowEvalPython (fused langid+"
        "perplexity) -> codegen verdict assembly + regexp scrub. The dedup "
        "window is the one data shuffle (Exchange on text_hash); its loser "
        "keys (url, warc_ts) are deduplicated through a keys-only exchange "
        "and broadcast back to the verdict side. No Python outside the one "
        "Arrow stage.",
    )
    cap(
        "doc_verdicts (SQL-oracle flagship)",
        reg["doc_verdicts"]["spark"](spark, SF),
        "Parquet scan reads ONLY (doc_id, lang, text) — column pruning "
        "reaches the scan. The first Exchange is the round-robin spread of "
        "the one-row-group file (queries._par_scan); flags are computed "
        "map-side after it, before the dedup-window exchange on text_hash.",
    )
    cap(
        "cosine_topk_embeddings",
        reg["cosine_topk_embeddings"]["spark"](spark, SF),
        "Probe set is BROADCAST (BroadcastNestedLoopJoin over a 5-row build "
        "side); corpus scanned once; each pair's cosine is one Arrow hop "
        "(ArrowEvalPython, the numpy fold); per-query top-k via "
        "WindowGroupLimit on both sides of the one exchange on query_id.",
    )
    cap(
        "sigma_bands_events",
        reg["sigma_bands_events"]["spark"](spark, SF),
        "Partial hash aggregate before the exchange on (event_type, day) "
        "(map-side combine), then a second exchange on event_type alone for "
        "the WindowExec of the trailing bands.",
    )
    cap(
        "historical_completeness_events",
        reg["historical_completeness_events"]["spark"](spark, SF),
        "The reference's 4-scalar-queries-per-dataset loop collapsed to ONE "
        "conditional-sum hash aggregate: a single scan of events whatever "
        "the dataset count. The max-date anchor is a scalar subquery "
        "(the extra ts scans listed), reused across its references "
        "(ReusedSubquery in the executed plan).",
    )
    cap(
        "minhash_candidate_pairs",
        minhash_candidate_pairs(pages_df(spark, 1000, 4)),
        "Signatures: one JVM xxhash64 per shingle, then ONE Arrow hop "
        "folds all 64 permutation hashes to the element-wise min in "
        "vectorized numpy (chained-seed identity, bit-identical to the "
        "all-JVM fold; round 6). The per-doc signature table is "
        "localCheckpointed so census and collect read one evaluation. The "
        "census job checkpoints and counts the survivor keys, and the prune "
        "join builds on them: BroadcastExchange of (band_idx, band_hash) "
        "only, or a MERGE-hinted sort-merge join when count x 24 B exceeds "
        "autoBroadcastJoinThreshold; the member rows are never broadcast. "
        "The band-bucket groupBy is the only shuffle of member rows; pair "
        "expansion happens inside capped buckets (max 64 members), and one "
        "exchange on (doc_a, doc_b) folds each pair's bands to MAX "
        "est_jaccard.",
    )
    cap(
        "segment_filter_events (contains + JSON key)",
        reg["segment_filter_events"]["spark"](spark, SF),
        "The contains/JSON predicate is evaluated in the scan stage "
        "(Filter fused into WholeStageCodegen directly over the parquet "
        "scan; string/JSON functions are not pushable into parquet footers, "
        "but no row survives past the first stage) — zero shuffle. With no "
        "exchange or subquery AQE does not wrap the plan, so this tree has "
        "no AdaptiveSparkPlan node.",
    )
    cap(
        "embedding_near_dup_pairs",
        reg["embedding_near_dup_pairs"]["spark"](spark, SF),
        "Brute scorer: one shuffle by the blocking label (exactly what the "
        "former self-join shuffled), then per-group pair scoring in "
        "FlatMapGroupsInPandas — the same sequential per-dimension folds "
        "the SQL spec's aggregate() performs, vectorized across pairs "
        "(round 6; at corpus scale the LSH buckets generate the "
        "candidates instead).",
    )
    cap(
        "sigma_warning_zone_events",
        reg["sigma_warning_zone_events"]["spark"](spark, SF),
        "Same two-shuffle shape as sigma_bands: partial agg -> exchange on "
        "(event_type, day) -> final agg -> exchange on event_type -> "
        "WindowExec (including current row, per the dashboard) -> codegen "
        "band-membership filter.",
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(HDR + "\n" + "\n".join(sections))
    print("PLANS.md regenerated")
    spark.stop()


if __name__ == "__main__":
    main()
