"""Embedding similarity search over array<float> columns.

Two paths, per the training-pipeline requirements:
  1. brute-force cosine top-k — exact baseline. Query set is a broadcast
     small side (a handful of probe vectors), so the "join" is a broadcast
     nested loop over ONE scan of the corpus; the per-pair cosine is a
     numpy fold in one Arrow hop.
  2. LSH-bucketed ANN — the scale path: by default 8 tables of 8 seeded
     random hyperplanes each give a vector one 8-bit bucket id per table
     (pure column expressions); neighbor candidates share a bucket in any
     table (a bucket equijoin, each bucket ~ n/256 of the corpus), then
     exact cosine re-rank over the candidates.

Determinism: hyperplanes derive from a fixed seed; ranking ties broken by
vec_id (SURVEY.md §7 hard-point 3).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd   # module-level: pandas-UDF type hints must resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .. import constants as C
from .spec import round4_col


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_filter: str,
    k: int = C.COSINE_TOPK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every query vector (rows matching
    query_filter). Queries are broadcast; corpus is scanned once.

    The per-pair cosine is one Arrow hop: a numpy loop runs the dot product
    and both norms as sequential per-dimension folds (acc += x*y in
    dimension order), vectorized across pairs, so the round4 values hash
    equal to the DuckDB oracle's (cosine_topk_embeddings); np.dot's
    pairwise summation would not. Ranking ties break by neighbor id."""

    @F.pandas_udf(DoubleType())
    def cos_udf(qe: pd.Series, ne: pd.Series) -> pd.Series:
        if not len(qe):
            return pd.Series(np.empty(0, np.float64))
        Q = np.stack([np.asarray(a, dtype=np.float64) for a in qe])
        N = np.stack([np.asarray(a, dtype=np.float64) for a in ne])
        dot = np.zeros(len(Q))
        qn = np.zeros(len(Q))
        nn = np.zeros(len(Q))
        for d in range(Q.shape[1]):      # sequential folds, as the SQL
            x, y = Q[:, d], N[:, d]
            dot += x * y
            qn += x * x
            nn += y * y
        return pd.Series(dot / (np.sqrt(qn) * np.sqrt(nn)))

    q = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", cos_udf("qvec", "nvec").alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            round4_col(F.col("sim")).alias("cosine_sim"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    rng = random.Random(C.CORPUS_SEED * 7919 + table * 104729)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def with_lsh_bucket(
    df: DataFrame, dim: int, vec_col: str = "embedding",
    n_planes: int = C.LSH_COSINE_PLANES, table: int = 0,
    out_col: str = "bucket",
) -> DataFrame:
    """Adds `out_col`: an n_planes-bit signature from seeded hyperplane
    signs — pure column expressions, evaluated in codegen."""
    planes = _hyperplanes(dim, n_planes, table)
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in p])
        bit = (_dot(vec_col, "__plane") > 0).cast("long")
        df = df.withColumn("__plane", arr)
        df = df.withColumn(f"__bit_{j}", bit).drop("__plane")
        bucket = bucket + F.col(f"__bit_{j}") * F.lit(1 << j).cast("long")
    df = df.withColumn(out_col, bucket)
    for j in range(len(planes)):
        df = df.drop(f"__bit_{j}")
    return df


def ann_lsh_topk(
    embeddings: DataFrame,
    dim: int,
    query_filter: str,
    k: int = C.COSINE_TOPK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH (OR-construction:
    n_tables independent hash tables of n_planes bits; candidate = shares a
    bucket in ANY table). Exact cosine re-rank over the candidate union.
    Its recall against cosine_topk is tested in
    tests/test_dedup_similarity.py.

    Plan shape: bucket bits are codegen'd expressions; the candidate join
    shuffles on (table_id, bucket) — each bucket holds ~n/2^n_planes docs,
    so skew is bounded by construction."""
    tagged = embeddings.withColumn("__nrm", _norm(vec_col))
    for t in range(n_tables):
        tagged = with_lsh_bucket(
            tagged, dim, vec_col, n_planes, table=t, out_col=f"__b{t}"
        )
    buckets = F.array(*[F.col(f"__b{t}") for t in range(n_tables)])
    b = tagged.select(
        F.col(id_col), F.col(vec_col), F.col("__nrm"),
        F.posexplode(buckets).alias("table_id", "bucket"),
    )
    q = b.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("__nrm").alias("qnorm"),
        F.col("table_id").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    c = b.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        F.col("__nrm").alias("nnorm"),
        "table_id", "bucket",
    )
    joined = (
        c.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("qtable"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = joined.withColumn(
        "cosine_sim", _dot("qvec", "nvec") / (F.col("qnorm") * F.col("nnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            round4_col(F.col("cosine_sim")).alias("cosine_sim"),
        )
    )
