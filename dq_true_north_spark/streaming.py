"""Structured Streaming variant of the quality-filter pipeline.

The reference is strictly daily batch (SURVEY.md §2.4: no streams; lateness
is a data-quality verdict, not a watermark), and the north_rule pipeline is
resumable batch. This module is the forward-looking continuous-ingestion
surface: the SAME verdict computation (textquality.pipeline.compute_verdicts)
applied to a file-source stream of page parquet drops via foreachBatch.

Design notes:
  - foreachBatch, not a streaming-native plan: compute_verdicts contains a
    window over md5(text) (exact dedup), which streaming cannot express
    globally anyway — per-micro-batch dedup + the downstream batch dedup
    rule is the correct layering for a crawl feed;
  - checkpointLocation gives exactly-once sink appends across restarts —
    the streaming analog of lineage.py's manifest;
  - maxFilesPerTrigger bounds micro-batch size so executor memory sizing
    (AQE advisory) holds no matter how many files land at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import PAGES_SCHEMA
from .partitioning import host_of
from .textquality.pipeline import compute_verdicts


def stream_verdicts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """File-source stream of page parquet → verdict parquet appends.

    Returns the StreamingQuery; caller awaits termination or stops it.
    """
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the shuffle dedup plan needs no unique (url, warc_ts) per batch,
        # and micro-batches are bounded by maxFilesPerTrigger, so its
        # full-width exchange stays small
        out = compute_verdicts(batch_df, dedup_strategy="shuffle").withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("append").parquet(output_dir)

    return (
        pages.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_host_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_minutes: int = 10,
    late_minutes: int = 10,
):
    """Event-time windowed ingest rates per host with a watermark.

    Late data handling the streaming-native way (the batch engine treats
    lateness as a data-quality verdict; a live crawl feed needs watermarks):
    rows later than `late_minutes` behind the max seen warc_ts are dropped,
    and a (host, window) count row is emitted (append mode) only once its
    window is entirely behind the watermark — so the sink holds exactly one
    immutable row per finalized window, safe for downstream consumers.
    """
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(input_dir)
        .withColumn(
            # shared extractor (partitioning.host_of): no trailing-slash
            # requirement — 'https://h.io' and 'https://h.io?x=1' group
            # under h.io, not under ''
            "host", host_of("url")
        )
    )
    rates = (
        pages.withWatermark("warc_ts", f"{late_minutes} minutes")
        .groupBy(
            F.window("warc_ts", f"{window_minutes} minutes").alias("w"),
            "host",
        )
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )
    return (
        rates.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_stateful(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Cross-micro-batch exact dedup via applyInPandasWithState.

    foreachBatch dedup (stream_verdicts) is per-micro-batch only; this is
    the streaming-native fix: group by text hash, keep GroupState("seen")
    per hash, emit a row with is_first=1 exactly once per distinct text
    ACROSS batches and restarts (state lives in the checkpoint). Within a
    group's first batch the keeper is the min (warc_ts, url) — the same
    stable tie-break as the batch pipeline.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup_group(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "url"], ignore_index=True)
        seen = state.exists
        flags = [0] * len(rows)
        if not seen and len(rows):
            flags[0] = 1
            state.update((1,))
        out = rows[["url", "text_hash"]].copy()
        out["warc_ts"] = rows["warc_ts"].astype(str)
        out["is_first"] = pd.Series(flags, dtype="int32")
        yield out[["url", "warc_ts", "text_hash", "is_first"]]

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(input_dir)
        .select("url", "warc_ts", F.md5("text").alias("text_hash"))
    )
    deduped = pages.groupBy("text_hash").applyInPandasWithState(
        dedup_group,
        outputStructType="url string, warc_ts string, text_hash string, is_first int",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


#: doc_a value of a capped-bucket marker row in the stream_near_dup_pairs
#: sink (illegal as a URL, so it can never collide with a real pair)
CAP_MARKER = "__bucket_capped__"


def stream_near_dup_pairs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_bucket: int = 64,
):
    """Streaming MinHash near-dup detection: every arriving page is matched
    against ALL previously-seen pages that share an LSH band bucket —
    across micro-batches and restarts (bucket membership lives in the
    checkpointed GroupState). The streaming analog of
    minhash_candidate_pairs for a live crawl feed.

    Shape: signatures are the same fold as batch (with_minhash works
    unchanged on a streaming frame: column expressions plus its numpy
    pandas-UDF signature fold), banding is the same xxhash64 key, and the
    stateful operator is applyInPandasWithState keyed by (band_idx,
    band_hash):
    state holds the bucket's members (url, signature), capped at
    max_bucket exactly like the batch path — a boilerplate bucket stops
    ACCEPTING members once full (arrival-order truncation; the batch
    equivalent drops the whole oversized bucket, so the two paths agree
    only below the cap — documented, and the planted corpus stays below).

    Emission contract (mirrors batch semantics): new rows are processed in
    (url, signature) order; each new member pairs against every existing
    member, orientation (doc_a, doc_b) = sorted urls, self-url pairs
    skipped, est_jaccard = round4(matching perms / 64) filtered at the
    threshold. The same pair CAN surface from several band buckets (batch
    resolves that with a max-aggregate); consumers of the stream dedupe
    per pair downstream — kept raw here so the sink stays append-only.

    Truncation is NOT silent (the repo-wide capped-LSH discipline): a
    micro-batch that drops arrivals on a full bucket emits one MARKER row
    — doc_a = CAP_MARKER, doc_b = "band_idx:band_hash", est_jaccard =
    rows dropped in this batch — so a boilerplate-heavy feed shows its
    truncation in the same sink; consumers filter doc_a != CAP_MARKER."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from . import constants as C
    from .textquality.dedup import _minhash_banded

    n_perms = C.MINHASH_PERMS
    threshold = C.JACCARD_THRESHOLD

    def bucket_group(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.assign(sig_t=rows["minhash"].map(tuple)).sort_values(
            ["doc", "sig_t"], ignore_index=True
        )
        members: list = list(state.get[0]) if state.exists else []
        out_a, out_b, out_est = [], [], []
        dropped = 0
        for r in rows.itertuples(index=False):
            if len(members) >= max_bucket:
                # capped: bucket accepts no more; count what we drop
                dropped += 1
                continue
            sig = r.sig_t
            for m_url, m_sig in members:
                if m_url == r.doc:
                    continue
                matches = sum(x == y for x, y in zip(m_sig, sig))
                est = math.floor(matches / n_perms * 1e4 + 0.5) / 1e4
                if est >= threshold:
                    a, b = sorted((m_url, r.doc))
                    out_a.append(a)
                    out_b.append(b)
                    out_est.append(est)
            # plain Python ints: the state row is pickled to the JVM and
            # numpy.int64 is not a registered pickle class there
            members.append((r.doc, [int(x) for x in sig]))
        state.update(([list(m) if isinstance(m, tuple) else m
                       for m in members],))
        if dropped:
            out_a.append(CAP_MARKER)
            out_b.append(f"{key[0]}:{key[1]}")
            out_est.append(float(dropped))
        yield pd.DataFrame(
            {"doc_a": out_a, "doc_b": out_b,
             "est_jaccard": pd.Series(out_est, dtype="float64")}
        )

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(input_dir)
        .select("url", "text")
    )
    banded = _minhash_banded(pages, "url", "text",
                             C.MINHASH_BANDS, n_perms)
    # shingle-less pages (< 3 words — empty/near-empty crawl pages) carry
    # an all-NULL signature. In batch they can never emit a pair (SQL NULL
    # equality → matches 0 → est 0 < threshold), so dropping them here is
    # OUTPUT-equivalent — and necessary: they all collide into the
    # hash-of-lit(j) buckets, Python int(None) would crash the query, and
    # a None==None match count would fabricate est 1.0 between unrelated
    # empty pages (round-5 second-review catch).
    banded = banded.filter(F.element_at("minhash", 1).isNotNull())
    pairs = banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        bucket_group,
        outputStructType="doc_a string, doc_b string, est_jaccard double",
        stateStructType=(
            "members array<struct<url: string, minhash: array<bigint>>>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
