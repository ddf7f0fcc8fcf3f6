from __future__ import annotations

import os
import sys

import duckdb
import pytest
from py4j import clientserver

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dq_true_north_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("DQ_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    # a bounded heap: under get_spark's 24g default, G1 grew this JVM to
    # 13-14 GB of RSS on a 16 GB, 4-core host while its live set after a
    # full GC stays under 0.4 GB, and the host's OOM killer ended the run
    s = get_spark(app_name="dq-tests", master="local[8]",
                  shuffle_partitions="8",
                  extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def jobs_run_by(spark):
    """jobs_run_by(action) -> ids of the Spark jobs that action() submits,
    read from the status tracker once the listener bus has delivered every
    event."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()

    def run(action) -> set:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        action()
        bus.waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None)) - before

    return run


@pytest.fixture
def py4j_calls(monkeypatch):
    """py4j_calls(action) -> the number of driver-to-JVM round trips that
    action() makes (every py4j command goes through send_command)."""
    count = [0]
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        count[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command", counted)

    def run(action) -> int:
        start = count[0]
        action()
        return count[0] - start

    return run


@pytest.fixture
def codegen_compiles(spark):
    """codegen_compiles(action) -> the number of generated classes that
    Spark compiled while action() ran (the JVM-wide CodegenMetrics count,
    executors included in local mode)."""
    timer = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
             .METRIC_COMPILATION_TIME())

    def run(action) -> int:
        start = timer.getCount()
        action()
        return timer.getCount() - start

    return run
