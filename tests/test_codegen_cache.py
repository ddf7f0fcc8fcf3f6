"""A repeated run compiles no code: the session's codegen cache holds the
generated classes of a whole catalog run and a whole corpus sequence, so a
second run finds every class it needs except those of the projections that
carry the sink's execution_timestamp literal."""

from __future__ import annotations

from dq_true_north_spark.catalog import DEFAULT_CATALOG
from dq_true_north_spark.corpus import pages_df
from dq_true_north_spark.engine import run_catalog
from dq_true_north_spark.io import ResultSink
from dq_true_north_spark.lineage import run_quality_pipeline
from dq_true_north_spark.session import CODEGEN_CACHE_ENTRIES, load_tables
from dq_true_north_spark.textquality.dedup import (
    keep_representatives,
    minhash_candidate_pairs,
)
from tests.conftest import SF_DIR, TABLES

# ResultSink.append stamps each detail write with execution_timestamp; Spark
# folds the timestamp into a literal of the generated code, so those
# projections compile again on every run (20 classes for DEFAULT_CATALOG)
SINK_TIMESTAMP_CLASSES = 20


def test_session_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == CODEGEN_CACHE_ENTRIES


def test_repeated_catalog_run_compiles_only_sink_stamps(spark, tmp_path, codegen_compiles):
    load_tables(spark, SF_DIR, TABLES)

    def run(name):
        run_catalog(spark, [dict(r) for r in DEFAULT_CATALOG],
                    sink=ResultSink(str(tmp_path / name)))

    codegen_compiles(lambda: run("first"))
    again = codegen_compiles(lambda: run("second"))
    assert again <= SINK_TIMESTAMP_CLASSES, again


def test_repeated_corpus_sequence_compiles_nothing(spark, tmp_path, codegen_compiles):
    pages = pages_df(spark, 400, partitions=4)

    def sequence(name):
        run = run_quality_pipeline(spark, pages, str(tmp_path / name), "runc")
        run["summary"].first()
        pairs = minhash_candidate_pairs(pages)
        rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
        keep_representatives(
            pages, spark.createDataFrame(rows, "doc_a string, doc_b string")
        ).count()

    codegen_compiles(lambda: sequence("first"))
    assert codegen_compiles(lambda: sequence("second")) == 0
