"""Partitioning & skew discipline (north_rule: "explicit hash-partitioning
on url, salted repartitioning for skewed hosts, AQE-tuned shuffle sizing").

Web corpora are host-skewed: a handful of hosts contribute a large share of
pages (the synthetic corpus plants ~30% of pages on 2 hot hosts,
constants.HOT_HOSTS). Anything that later groups or windows BY HOST would
put those hosts in single reducers; salting splits each host into
SALT_BUCKETS sub-keys. For per-url work (the verdict pipeline) plain
hash(url) is already uniform — salt only what is actually skewed.

AQE (enabled in session.py) handles residual skew at runtime
(skewJoin.enabled + advisoryPartitionSizeInBytes); these helpers handle the
skew we can predict statically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import constants as C

# THE host extractor — used by partitioning AND the registry's host
# queries (queries.py, whose oracle compiles the same HOST_RE). No
# trailing-slash requirement: 'https://h.io' and 'https://h.io?x=1' must
# group under h.io, not under '' (VERDICT r2 #2).
HOST_RE = r"^[A-Za-z]+://([^/?#]+)"


def host_of(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), HOST_RE, 1)


def repartition_by_url(df: DataFrame, n: int) -> DataFrame:
    """Uniform distribution for per-url stages: hash(url) is balanced no
    matter how skewed hosts are."""
    return df.repartition(n, F.col("url"))


def salt_col(url_col: str = "url", buckets: int = C.SALT_BUCKETS):
    """host#salt composite key: splits each hot host into `buckets`
    shuffle keys while keeping host locality recoverable (strip '#k')."""
    return F.concat_ws(
        "#",
        host_of(url_col),
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(buckets)).cast("string"),
    )


def salted_repartition_by_host(
    df: DataFrame, n: int, url_col: str = "url",
    buckets: int = C.SALT_BUCKETS,
) -> DataFrame:
    return df.withColumn("_host_salt", salt_col(url_col, buckets)).repartition(
        n, F.col("_host_salt")
    ).drop("_host_salt")


def host_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host page counts — the skew report a real run would log before
    choosing bucket counts. Two-phase aggregation: Spark's partial hash agg
    means the hot host never concentrates on one task before the final agg."""
    return (
        df.select(host_of(url_col).alias("host"))
        .groupBy("host")
        .count()
        .orderBy(F.col("count").desc())
    )


def partition_histogram(df: DataFrame) -> list[int]:
    """Rows per partition — the direct evidence for skew tests."""
    return [
        r["cnt"]
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("pid")
        .collect()
    ]
