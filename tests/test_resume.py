"""Resume semantics: manifest-gated stage skipping, resume == fresh output."""

from __future__ import annotations

import json
import os

from dq_true_north_spark.corpus import pages_df
from dq_true_north_spark.lineage import PipelineRunner, run_quality_pipeline
from dq_true_north_spark.textquality.pipeline import compute_verdicts, verdict_summary

N = 600


def _verdict_key(rows):
    return {
        (r["url"], r["warc_ts"]): (r["keep"], tuple(r["drop_reasons"]), r["scrubbed_text"])
        for r in rows
    }


def test_fresh_run_writes_all_stages(spark, tmp_path):
    out = run_quality_pipeline(spark, pages_df(spark, N, 4), str(tmp_path), "run1")
    assert out["_runner"].recomputed == ["verdicts", "lineage", "summary"]
    assert out["verdicts"].count() == N
    lin = out["lineage"].collect()
    assert sum(r["docs_in"] for r in lin) == N
    assert all(r["run_id"] == "run1" for r in lin)
    # lineage hit counts reconcile with the summary rollup
    summ = out["summary"].first()
    assert sum(r["hits_too_short"] for r in lin) == summ["too_short_count"]
    assert sum(r["docs_out"] for r in lin) == summ["kept_docs"]


def test_resume_skips_committed_stages(spark, tmp_path):
    base = str(tmp_path)
    run_quality_pipeline(spark, pages_df(spark, N, 4), base, "run2")
    out2 = run_quality_pipeline(spark, pages_df(spark, N, 4), base, "run2")
    assert out2["_runner"].recomputed == []  # everything manifest-gated


def test_kill_after_stage_k_then_resume_equals_fresh(spark, tmp_path):
    base_a = str(tmp_path / "killed")
    base_b = str(tmp_path / "fresh")
    pages = pages_df(spark, N, 4)

    # simulate a run killed after stage 1: only the verdicts stage commits
    runner = PipelineRunner(spark, base_a, "runk")
    runner.stage("verdicts", lambda: compute_verdicts(pages))
    # resume the full pipeline with the same run_id
    resumed = run_quality_pipeline(spark, pages, base_a, "runk")
    assert resumed["_runner"].recomputed == ["lineage", "summary"]

    fresh = run_quality_pipeline(spark, pages, base_b, "runf")
    assert _verdict_key(resumed["verdicts"].collect()) == _verdict_key(
        fresh["verdicts"].collect()
    )
    assert resumed["summary"].collect() == fresh["summary"].collect()


def test_torn_tmp_dir_is_discarded(spark, tmp_path):
    base = str(tmp_path)
    torn = os.path.join(base, "verdicts", "runt.tmp")
    os.makedirs(torn)
    with open(os.path.join(torn, "garbage"), "w") as f:
        f.write("partial write from a killed executor")
    out = run_quality_pipeline(spark, pages_df(spark, N, 4), base, "runt")
    assert out["verdicts"].count() == N
    assert not os.path.isdir(torn)


def test_manifest_rows_match_stage_outputs(spark, tmp_path):
    """Each manifest entry's row count, observed on the stage's write, equals
    the rows of the committed output."""
    out = run_quality_pipeline(spark, pages_df(spark, N, 4), str(tmp_path), "runm")
    stages = out["_runner"].manifest._data["stages"]
    assert set(stages) == {"verdicts", "lineage", "summary"}
    for name, entry in stages.items():
        assert entry["rows"] == spark.read.parquet(entry["output"]).count(), name
    assert stages["verdicts"]["rows"] == N


def test_fresh_run_and_resume_job_counts(spark, tmp_path, jobs_run_by):
    """A fresh run submits only its stage writes (no dedup sketch, no
    schema-inference read); a resume of the committed run submits none
    before its outputs are used."""
    pages = pages_df(spark, 400, partitions=4)
    base = str(tmp_path)
    out = {}
    fresh = jobs_run_by(lambda: out.update(run_quality_pipeline(spark, pages, base, "runj")))
    assert len(fresh) <= 8, sorted(fresh)
    resumed = jobs_run_by(lambda: out.update(run_quality_pipeline(spark, pages, base, "runj")))
    assert resumed == set()
    assert out["_runner"].recomputed == []
    assert out["summary"].first()["total_docs"] == 400


def test_stage_reads_carry_committed_schema(spark, tmp_path):
    """Every stage is read back with the schema its manifest entry records,
    and reads back the schema Parquet infers from the output; an entry
    without a schema counts as uncommitted, so that stage recomputes."""
    base = str(tmp_path)
    pages = pages_df(spark, N, 4)
    out = run_quality_pipeline(spark, pages, base, "runs")
    manifest = out["_runner"].manifest
    for name in ("verdicts", "lineage", "summary"):
        inferred = spark.read.parquet(manifest.output_path(name)).schema
        assert out[name].schema == inferred, name
    lineage = sorted(out["lineage"].collect())

    with open(manifest.path) as f:
        data = json.load(f)
    del data["stages"]["lineage"]["schema"]
    with open(manifest.path, "w") as f:
        json.dump(data, f)
    again = run_quality_pipeline(spark, pages, base, "runs")
    assert again["_runner"].recomputed == ["lineage"]
    assert sorted(again["lineage"].collect()) == lineage


def test_summary_rolls_up_lineage(spark, tmp_path):
    """The summary stage, rolled up from the lineage rows, equals
    verdict_summary over the verdicts: on the corpus and on empty pages."""
    pages = pages_df(spark, 400, partitions=4)
    for label, p in (("corpus", pages), ("empty", pages.limit(0))):
        out = run_quality_pipeline(spark, p, str(tmp_path / label), "runr")
        (got,) = out["summary"].collect()
        (want,) = verdict_summary(out["verdicts"]).collect()
        assert got == want, label
    assert got["total_docs"] == 0
    assert got["kept_docs"] is None and got["too_short_count"] is None
