"""Run manifest + per-partition lineage + resume.

north_rule: "Every stage writes per-partition lineage rows (partition id,
rule hit counts, drop reasons, checkpoint offsets) to a metrics table so
runs resume from the last committed snapshot."

Without real Iceberg in the sandbox, the same commit discipline is built
from primitives (SURVEY.md §7 hard-point 5):
  - stage output is written to `<table>/<run_id>.tmp`, atomically renamed to
    `<table>/<run_id>` (commit-then-visible);
  - the manifest JSON (one per run_id, atomic os.replace) is the source of
    truth: a stage counts as done only if BOTH the manifest entry (with the
    stage's schema) and the renamed directory exist;
  - every stage is read back with the schema its manifest entry records,
    so no read runs a schema-inference job: a resume of a committed run
    submits no Spark job until its outputs are used;
  - resume == re-invoke with the same run_id: committed stages are read
    back, uncommitted stages recompute. Deterministic inputs (corpus.py) +
    deterministic plans => resume output is byte-equal to a fresh run
    (tested in tests/test_resume.py).

The summary stage rolls up the committed lineage rows (at most one per
verdict partition) rather than re-scanning the verdicts.

The reference has NO resume story — append-only writes double-log on re-run
(dq_rules_library.py:44; SURVEY.md §4 "idempotence / resume") — this is a
deliberate rebuild upgrade required by the north rule.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import constants as C
from .io import counted_write


class RunManifest:
    def __init__(self, base_path: str, run_id: str):
        self.base_path = base_path
        self.run_id = run_id
        self.path = os.path.join(base_path, f"manifest_{run_id}.json")
        os.makedirs(base_path, exist_ok=True)
        self._data = self._load()

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"run_id": self.run_id, "stages": {}}

    def committed(self, stage: str) -> bool:
        """An entry counts only with its schema (a stage is read back with
        it, never by inference) and its renamed output directory."""
        entry = self._data["stages"].get(stage)
        return bool(entry) and "schema" in entry and os.path.isdir(entry["output"])

    def output_path(self, stage: str) -> str:
        return self._data["stages"][stage]["output"]

    def schema(self, stage: str) -> StructType:
        return StructType.fromJson(self._data["stages"][stage]["schema"])

    def commit(self, stage: str, output: str, rows: int, schema: dict) -> None:
        self._data["stages"][stage] = {
            "output": output,
            "rows": rows,
            "schema": schema,
            "committed_at": time.time(),
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._data, f, indent=2)
        os.replace(tmp, self.path)  # atomic manifest commit


class PipelineRunner:
    """Stage-by-stage executor with manifest-gated skipping."""

    def __init__(self, spark: SparkSession, base_path: str, run_id: str):
        self.spark = spark
        self.manifest = RunManifest(base_path, run_id)
        self.base_path = base_path
        self.run_id = run_id
        self.recomputed: list[str] = []   # instrumentation for tests

    def stage(self, name: str, build) -> DataFrame:
        """build: () -> DataFrame. Runs the stage unless already committed,
        then reads the committed output with the manifest's schema: a
        schemaless Parquet read would infer it with a Spark job. The
        manifest keeps the written frame's schema; the file-source reader
        makes it nullable throughout, as it does an inferred one."""
        if not self.manifest.committed(name):
            final = os.path.join(self.base_path, name, self.run_id)
            tmp = final + ".tmp"
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)          # torn previous attempt — discard
            df = build()
            rows = counted_write(df, tmp)   # counted by the write job itself
            os.makedirs(os.path.dirname(final), exist_ok=True)
            if os.path.isdir(final):
                shutil.rmtree(final)
            os.rename(tmp, final)           # commit-then-visible
            self.manifest.commit(name, final, rows, df.schema.jsonValue())
            self.recomputed.append(name)
        return self.spark.read.schema(self.manifest.schema(name)).parquet(
            self.manifest.output_path(name))


def lineage_of(verdicts: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-partition lineage rows: partition id, docs in/out, per-rule hit
    counts, max checkpoint offset (the partition's high-water mark)."""
    aggs = [
        "count(1) AS docs_in",
        "sum(CAST(keep AS INT)) AS docs_out",
        "max(xxhash64(url)) AS checkpoint_offset",
        *[f"sum(element_at(rule_hits, '{r}')) AS hits_{r}"
          for r in C.DROP_REASON_ORDER],
    ]
    return (
        verdicts.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(*map(F.expr, aggs))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "*",
        )
    )


def summary_of_lineage(lineage: DataFrame) -> DataFrame:
    """The verdict_summary row, rolled up from lineage rows (at most one per
    verdict partition) instead of re-scanning the verdicts. Equal to
    verdict_summary(verdicts) also on empty input: total_docs 0, the rest
    NULL."""
    return lineage.agg(*map(F.expr, [
        "coalesce(sum(docs_in), 0) AS total_docs",
        "sum(docs_out) AS kept_docs",
        *[f"sum(hits_{r}) AS {r}_count" for r in C.DROP_REASON_ORDER],
    ]))


def run_quality_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    base_path: str,
    run_id: str,
    dedup_strategy: str = "auto",
) -> dict[str, DataFrame]:
    """Full resumable run: verdicts -> lineage -> summary, the summary
    rolled up from the committed lineage.

    dedup_strategy passes through to compute_verdicts; force 'shuffle' for
    inputs that cannot guarantee unique (url, warc_ts) rows — the keys-only
    paths' precondition (textquality/pipeline.py)."""
    from .textquality.pipeline import compute_verdicts

    runner = PipelineRunner(spark, base_path, run_id)
    verdicts = runner.stage(
        "verdicts", lambda: compute_verdicts(pages, dedup_strategy=dedup_strategy)
    )
    lineage = runner.stage(
        "lineage", lambda: lineage_of(verdicts, run_id, "verdicts")
    )
    summary = runner.stage("summary", lambda: summary_of_lineage(lineage))
    return {
        "verdicts": verdicts,
        "lineage": lineage,
        "summary": summary,
        "_runner": runner,
    }
