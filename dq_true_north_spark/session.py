"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster; every config below is one
we would also set via spark-submit on a 1000-executor cluster. AQE is on so
shuffle partition counts re-plan at runtime (skew join splitting included).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). One DEFAULT_CATALOG run with a result sink generates about 150
# classes (154-157 on the seed-7 benchmark tables) and a corpus_10k iteration
# about 105, so at the default the LRU evicts a run's classes before the next
# run asks for them: every repeated catalog run recompiled 145-147 classes and
# every corpus iteration 62 (seed 7, 4 cores), each then run as cold bytecode.
# 2000 holds ~13 such runs. Holding the test suite's ~1,500 classes (10.9 MB of
# generated source) left the live heap after a full GC within 40 MB of the
# default's.
CODEGEN_CACHE_ENTRIES = "2000"


def get_spark(
    app_name: str = "dq_true_north_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the session with the confs below, or return the active one.

    The codegen cache size is a static SQL conf: it takes effect only when
    this call creates the session. A getOrCreate() that attaches to an
    existing session keeps that session's static confs."""
    # executor Python workers inherit the JVM's PYTHONPATH, NOT the driver's
    # sys.path — make the package importable on workers whatever the cwd
    # (the cluster-mode equivalent is spark-submit --py-files)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo + (os.pathsep + pp if pp else "")
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic timestamp semantics across engines (DuckDB oracle)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas UDF / toPandas boundary (input_hint: no
        # per-row Python; Arrow batches only)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime coalescing + skew-join splitting — the config half of
        # the skew story (the other half is salted repartition in partitioning.py)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # a repeated run reuses its generated classes instead of recompiling
        # them (see CODEGEN_CACHE_ENTRIES)
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        # at 100 TB this would be tuned with files.maxPartitionBytes; the
        # default 128m is already correct for the parquet scan side
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast small dims (rule catalog, lexicons) aggressively
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # 24g default: a 32-thread local JVM GC-anti-scales below ~16g and
        # round-6 A/B showed 24g shaves pipeline cold (5.7 vs 6.4 s) at no
        # cost in a 128 GiB sandbox; env-parameterized — a real cluster
        # sizes executor/driver heap via spark-submit, not this default
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict:
    """Read the driver-provided parquet tables and register temp views.

    The DataFrame HANDLES are memoized per (session, sf_dir, table): a
    `spark.read.parquet` call costs ~130 ms of schema inference + py4j
    round trips, and the query registry calls load_tables once per query —
    at 10 tables that was a ~1.3 s floor under EVERY registered query
    (round-6 measurement; the floor, not the compute, dominated the small
    queries). Only the lazy plan is cached — every materialization still
    scans the parquet files, so this is metadata caching, never result
    caching. Each view remembers the sf_dir it points at and is
    re-registered whenever a call asks for it from another sf_dir, so a
    session that switches scale factors (the test harness does) stays
    correct; a call whose views already point at sf_dir reads nothing and
    registers nothing."""
    cache = spark.__dict__.setdefault("_dq_table_cache", {})
    view_dirs = cache.setdefault("_view_sf_dirs", {})
    out = {}
    for n in names:
        key = (sf_dir, n)
        df = cache.get(key)
        if df is None:
            df = cache[key] = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        if view_dirs.get(n) != sf_dir:
            df.createOrReplaceTempView(n)
            view_dirs[n] = sf_dir
        out[n] = df
    return out
