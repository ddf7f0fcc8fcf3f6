"""Near-duplicate detection suite — MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point of these implementations):

MinHash: signatures are computed WITHOUT exploding shingles — one JVM
xxhash64 per shingle, then one Arrow hop folds all 64 permutation hashes
into the element-wise min per row in numpy (no shuffle). The data shuffle
of the LSH path is the band-bucket groupBy, the theoretical minimum for
LSH; the census before it moves keys only. Candidate pairs are verified by
comparing signatures (estimated Jaccard), never by re-reading text.

At 10^12 docs: band buckets on near-identical boilerplate can be huge —
bucket membership is built in TWO phases (keys-only census → prune
singletons and oversized buckets → collect survivors), so an oversized
bucket is never materialized in any reducer, let alone pair-expanded. The
prune join builds on the survivor keys, broadcast or sort-merged by their
measured count, never on the member rows (`_bucket_pairs`).
Truncation is NOT silent: `lsh_bucket_report` computes per-run bucket
statistics (total / oversize / largest) from the census, so a
boilerplate-heavy corpus shows its capped-bucket count next to the pair
output.

SimHash: 64-bit signature where the per-word hashing is JVM-side
(`xxhash64` over the distinct word array — no Python string hashing) and the
per-document bit aggregation is one vectorized numpy pass per Arrow batch
(flatten word hashes → 64-bit matrix → np.add.reduceat over document
boundaries). Near-dup = hamming distance <= 3 via banded grouping on
4 x 16-bit chunks (pigeonhole: any pair at distance <= 3 shares at least one
exact chunk) — bucket-groupBy with the SAME size cap + report discipline as
MinHash, never an uncapped self-join.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import ArrayType, LongType

from .. import constants as C

DEFAULT_MAX_BUCKET = 64


def shingle_col(text_col: str, k: int = C.MINHASH_SHINGLE_WORDS):
    """Distinct word k-shingles as an array column (JVM expressions only).
    Short documents (< k words) yield an EMPTY array — the guarded
    spec.word_ngrams construction; Spark's sequence(1, 0) is the
    DESCENDING [1, 0] and slice(arr, 0, k) throws, so the unguarded form
    crashed the whole job on any real crawl's empty/near-empty page.

    `text_col` may be any SQL expression (a column name or a precomputed
    words-array reference path — see with_minhash's two-step projection)."""
    from .spec import SPARK, word_ngrams

    words = f"filter(split(lower({text_col}), '\\\\s+'), w -> w <> '')"
    return F.array_distinct(F.expr(word_ngrams(SPARK, words, k)))


# XXH64 primes — public constants (Yann Collet's public-domain reference);
# duplicated here ON PURPOSE instead of importing textquality.xxh: xxh.py is
# the INDEPENDENT scalar spec behind the frozen mirror oracles, and the
# production kernel must not share its code or a bug could hide from the
# mirror-equality tests. This copy is pinned directly against the JVM by
# tests/test_dedup_similarity.py::test_minhash_numpy_kernel_matches_jvm.
_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP5 = np.uint64(0x27D4EB2F165667C5)


def _xxh64_int_with_seed(value: int, seeds: np.ndarray) -> np.ndarray:
    """Spark's XXH64 4-byte specialization (`hashInt`), vectorized over a
    uint64 `seeds` array for one scalar int `value`. uint64 arithmetic
    wraps mod 2^64 natively in numpy, matching the JVM's long overflow."""
    acc = seeds + (_XP5 + np.uint64(4))
    # scalar product done in Python ints: numpy WARNS on scalar uint64
    # overflow where the array op wraps silently
    acc = acc ^ np.uint64((value * int(_XP1)) & 0xFFFFFFFFFFFFFFFF)
    acc = ((acc << np.uint64(23)) | (acc >> np.uint64(41))) * _XP2 + _XP3
    acc = acc ^ (acc >> np.uint64(33))
    acc = acc * _XP2
    acc = acc ^ (acc >> np.uint64(29))
    acc = acc * _XP3
    return acc ^ (acc >> np.uint64(32))


@functools.lru_cache(maxsize=None)
def _minhash_fold_udf(n_perms: int):
    """pandas UDF folding per-shingle xxhash64 values into the n_perms-min
    signature. Input: array<long> of JVM `xxhash64(s)` per shingle. One UDF
    per n_perms: its JVM function is built on first use and reused.

    Bit-identity with the previous all-JVM reduce fold is by CONSTRUCTION
    of Spark's chained hash: `xxhash64(s, i)` == hashInt(i, seed =
    xxhash64(s)) — the hash of column k seeds column k+1 — so hashing each
    shingle string ONCE on the JVM and deriving all n_perms permutation
    hashes from that seed in vectorized numpy computes the exact same
    64-bit values as n_perms full string hashes did (and the signed
    `least` fold is np.minimum over the int64 view). Pinned by the JVM
    kernel test and the frozen scalar-mirror oracles.

    Why: the JVM reduce/zip_with/transform fold is interpreted (no
    codegen for higher-order lambdas) and allocates three 64-element
    arrays per shingle per document — measured 25-50 s with multi-GB/s
    allocation churn at 10k docs; this path runs the same arithmetic as
    ~15 flat numpy passes per permutation (guide §4.2)."""

    @F.pandas_udf(ArrayType(LongType()))
    def fold(hash_arrays: pd.Series) -> pd.Series:
        n = len(hash_arrays)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hash_arrays),
            dtype=np.int64, count=n,
        )
        nonempty = lens > 0
        flat_parts = [np.asarray(a, dtype=np.int64)
                      for a in hash_arrays if a is not None and len(a)]
        empty_row = [None] * n_perms   # array_repeat(NULL) semantics kept
        if not flat_parts:
            return pd.Series([empty_row] * n)
        flat = np.concatenate(flat_parts).view(np.uint64)
        starts = np.concatenate(
            ([0], np.cumsum(lens[nonempty])[:-1])).astype(np.int64)
        sig = np.empty((int(nonempty.sum()), n_perms), dtype=np.int64)
        for i in range(n_perms):
            hv = _xxh64_int_with_seed(i, flat).view(np.int64)
            sig[:, i] = np.minimum.reduceat(hv, starts)
        rows = iter(sig)
        return pd.Series(
            [next(rows) if ne else empty_row for ne in nonempty]
        )

    return fold


def with_minhash(df: DataFrame, text_col: str = "text",
                 n_perms: int = C.MINHASH_PERMS) -> DataFrame:
    """Adds `shingles` and a `minhash` array<long> signature column.

    Round-6 shape (same hashes as ever — see the kernel docstring):
      1. one projection computes the words array ONCE per row (the
         previous inlined form re-evaluated `split(lower(text))` inside
         the per-shingle transform lambda — interpreted higher-order
         lambdas re-run their free sub-expressions per element, so a
         70-shingle document paid ~70 regex splits);
      2. `shingles` = distinct k-grams over that column reference;
      3. one JVM `xxhash64(s)` per shingle (transform — single string
         hash), then ONE Arrow hop folds all n_perms permutation hashes
         into the element-wise-min signature in vectorized numpy
         (`_minhash_fold_udf`). The empty-array guard keeps the original
         semantics: no shingles → all-NULL signature.

    HISTORY (the round-5 correctness catch): the pre-r5 per-perm form
    captured the permutation index with a default-arg lambda
    (`lambda s, i=i: F.xxhash64(s, F.lit(i))`); F.transform treats a
    two-parameter lambda as its (element, index) form, so all 64
    "permutations" compiled to one expression and the signature was
    degenerate. Found by the scalar xxh mirror (dedup_mirror.py); pinned
    by test_minhash_signature_is_not_degenerate and mirror-equality
    tests — which also pin this round's numpy fold."""
    return _minhashed(df, "*", text_col, n_perms)


def _minhashed(df: DataFrame, keep: str, text_col: str,
               n_perms: int) -> DataFrame:
    """The select item `keep` over df, plus `shingles` and `minhash` (see
    with_minhash)."""
    from .spec import SPARK, word_ngrams, words

    lowered = words(SPARK, f"lower({text_col})")
    shingles = word_ngrams(SPARK, "_mh_words", C.MINHASH_SHINGLE_WORDS)
    fold = _minhash_fold_udf(n_perms)
    return (
        df.selectExpr(keep, f"{lowered} AS _mh_words")
        .selectExpr("* EXCEPT (_mh_words)", f"array_distinct({shingles}) AS shingles")
        .withColumn("minhash", fold(F.expr("transform(shingles, s -> xxhash64(s))")))
    )


def _minhash_signed(df: DataFrame, id_col: str, text_col: str,
                    n_perms: int) -> DataFrame:
    """(doc, minhash) rows of df."""
    from .spec import SPARK, ident

    return _minhashed(
        df, f"{ident(SPARK, id_col)} AS doc", text_col, n_perms
    ).drop("shingles")


#: Keys-only bucket census over a bound `keyed` frame: a partial-aggregated
#: count, never the members themselves. The cap and report decisions read
#: THIS, so an oversized bucket is never materialized anywhere.
_CENSUS = ("SELECT band_idx, band_hash, count(1) AS bucket_size FROM {keyed} "
           "GROUP BY band_idx, band_hash")

# One survivor key (band_idx INT, band_hash BIGINT) as an UnsafeRow: a
# null-bit word and two 8-byte slots. n keys are n times this in the rows a
# broadcast collects to the driver, the size autoBroadcastJoinThreshold
# bounds. (The hash relation built from them reports more: its first
# memory page, 16 MiB on 4 cores, whatever the key count.)
_KEY_BYTES = 24


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """df checkpointed eagerly, and its row count, observed in the
    checkpointing job (a count() afterwards would be two more jobs)."""
    obs = Observation()
    done = df.observe(obs, F.expr("count(1) AS n")).localCheckpoint(eager=True)
    return done, obs.get["n"]


def _bucket_pairs(keyed: DataFrame, payload: str, score: str,
                  max_bucket: int) -> DataFrame:
    """(doc, <payload>, band_idx, band_hash) rows → one (doc_a, doc_b,
    <score>) row per two members of a bucket with 2..max_bucket members.
    `score` is a SQL item `<expr> AS <name>` over the two members'
    payloads, `a.<payload>` and `b.<payload>`. The plan is parsed from SQL
    text: a Column-DSL node costs a driver round trip each.

    Two phases: the keys-only census is pruned to the surviving buckets,
    and only their members are collected. A single-phase `collect_list +
    filter(size <= cap)` would materialize a 10^8-member boilerplate bucket
    in one reducer BEFORE discarding it — the exact OOM the cap exists to
    prevent.

    The survivor keys are checkpointed and counted in one job, and the
    prune join builds on them: broadcast when count × _KEY_BYTES fits
    spark.sql.autoBroadcastJoinThreshold, otherwise a hinted sort-merge
    join, whose key exchange the collect's groupBy reuses. The member rows
    are never the build side. Spark sizes them from the signature
    checkpoint, whose LogicalRDD inherits the text scan's estimate (0.76 MB
    for 126 MB of member rows at 10k pages), so left unhinted it broadcasts
    them.

    Members are sorted by (doc, payload), so doc_a <= doc_b; the self-pairs
    of a non-unique id (the corpus's class-13 url reuse) are dropped. There
    is deliberately NO cross-band dedup here: a pair can surface from
    several bands — and, for a non-unique id, with DIFFERENT payloads — so
    a dropDuplicates would keep a partition-order-dependent row (the
    CLAUDE.md never-first()-unordered rule; round-5 review catch). Callers
    reduce per pair with a DETERMINISTIC aggregate (max est / min
    hamming)."""
    from .pipeline import broadcast_limit

    spark = keyed.sparkSession
    survivors, n = _checkpoint_counted(spark.sql(
        f"SELECT band_idx, band_hash FROM ({_CENSUS}) "
        f"WHERE bucket_size BETWEEN 2 AND {int(max_bucket)}", keyed=keyed,
    ))
    hint = "BROADCAST" if 0 <= n * _KEY_BYTES <= broadcast_limit(spark) else "MERGE"
    return spark.sql(f"""
        SELECT * FROM (
          SELECT inline(flatten(transform(members, (a, i) ->
            transform(slice(members, i + 2, size(members)), b ->
              struct(a.doc AS doc_a, b.doc AS doc_b, {score})))))
          FROM (
            SELECT /*+ {hint}(s) */
                   sort_array(collect_list(struct(doc, {payload}))) AS members
            FROM {{keyed}} JOIN {{survivors}} s USING (band_idx, band_hash)
            GROUP BY band_idx, band_hash))
        WHERE doc_a <> doc_b""", keyed=keyed, survivors=survivors)


def lsh_bucket_report(keyed: DataFrame, max_bucket: int) -> DataFrame:
    """Bucket-size statistics for an LSH run — makes the max_bucket
    truncation visible instead of silent (VERDICT r1 #5). One row:
    (n_buckets, n_multi, n_capped, largest_bucket, docs_in_capped).
    Computed from the keys-only census, so even reporting on a pathological
    corpus never materializes a bucket's members."""
    return keyed.sparkSession.sql(_CENSUS, keyed=keyed).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("bucket_size") > 1).cast("bigint")).alias("n_multi"),
        F.sum((F.col("bucket_size") > max_bucket).cast("bigint")).alias("n_capped"),
        F.max("bucket_size").cast("int").alias("largest_bucket"),
        F.sum(
            F.when(F.col("bucket_size") > max_bucket, F.col("bucket_size")).otherwise(0)
        ).cast("bigint").alias("docs_in_capped"),
    ).withColumn("max_bucket", F.lit(max_bucket))


def _band_explode(signed: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc, minhash) → one row per band with the band-bucket hash:
    xxhash64 of the band's r signature values and the INT band index,
    parsed from SQL text (one driver round trip, not one per node)."""
    band_hashes = ", ".join(
        "xxhash64("
        + ", ".join(f"element_at(minhash, {j * r + i + 1})" for i in range(r))
        + f", {j})"
        for j in range(bands)
    )
    return signed.selectExpr(
        "doc", "minhash",
        f"posexplode(array({band_hashes})) AS (band_idx, band_hash)",
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    bands: int = C.MINHASH_BANDS,
    n_perms: int = C.MINHASH_PERMS,
    threshold: float = C.JACCARD_THRESHOLD,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard >= threshold.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b, deduplicated
    across bands. Buckets above max_bucket are skipped; run
    `minhash_bucket_report` on the same inputs to quantify the truncation.
    Reference analog: the duplicate check's groupBy-count pattern
    (dq_rules_library.py:318-321) generalized to near-duplicates.

    The call runs the bucket census (see _bucket_pairs); the pairs
    themselves are computed when the returned frame is.
    """
    from .pipeline import _double
    from .spec import round4

    # the signature table is checkpointed lazily: the census job evaluates
    # the text scan, shingles and signature UDF once, and the member collect
    # reads the checkpointed rows (signatures are ~520 B/doc, the order of
    # what the band groupBy shuffles anyway)
    sig = _minhash_signed(df, id_col, text_col, n_perms).localCheckpoint(eager=False)
    matches = "size(filter(zip_with(a.minhash, b.minhash, (x, y) -> x = y), v -> v))"
    pairs = _bucket_pairs(
        _band_explode(sig, bands, n_perms // bands), "minhash",
        f"{round4(f'{matches} / {C.MINHASH_PERMS}')} AS est_jaccard", max_bucket,
    )
    # per-pair deterministic reduction: multi-band duplicates carry the
    # same est; duplicate-URL ids can carry DIFFERENT signatures — MAX is
    # order-independent where a dropDuplicates pick would not be
    return pairs.sparkSession.sql(
        "SELECT doc_a, doc_b, max(est_jaccard) AS est_jaccard FROM {pairs} "
        "GROUP BY doc_a, doc_b "
        f"HAVING max(est_jaccard) >= {_double(float(threshold))}", pairs=pairs,
    )


def minhash_bucket_report(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    bands: int = C.MINHASH_BANDS,
    n_perms: int = C.MINHASH_PERMS,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    signed = _minhash_signed(df, id_col, text_col, n_perms)
    banded = _band_explode(signed, bands, n_perms // bands)
    return lsh_bucket_report(banded, max_bucket)   # census only: one pass


# ------------------------------------------------------------- SimHash -----

_SIMHASH_BITS = C.SIMHASH_BITS


def _simhash_from_word_hashes(hash_arrays: pd.Series) -> pd.Series:
    """Vectorized SimHash fold: one numpy pass per Arrow batch.

    Input: per-document arrays of 64-bit word hashes (already hashed
    JVM-side with xxhash64 — no Python string hashing). Flatten all
    documents, expand to a (n_words x 64) ±1 matrix, then
    np.add.reduceat over document boundaries; sign gives the signature
    bits. Bit-identical at any batch split (pure per-document reduction).
    """
    lens = np.fromiter(
        (0 if a is None else len(a) for a in hash_arrays), dtype=np.int64,
        count=len(hash_arrays),
    )
    out = np.zeros(len(hash_arrays), dtype=np.uint64)
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)

    # Slab the fold: the ±1 bit matrix costs 512 bytes per word hash, so an
    # unbounded whole-batch flatten is GBs of transient on wordy corpora.
    # Documents never straddle a slab, so results stay bit-identical at any
    # slab size; each slab tops out around (budget x 64) int64 ≈ 128 MB.
    slab_budget = 1 << 18
    slab_rows: list[int] = []
    slab_arrays: list[np.ndarray] = []
    slab_words = 0

    def _flush():
        nonlocal slab_rows, slab_arrays, slab_words
        if not slab_rows:
            return
        flat = np.concatenate(slab_arrays).view(np.uint64)
        pm = (((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1)
        slab_lens = lens[slab_rows]
        starts = np.concatenate(([0], np.cumsum(slab_lens)[:-1]))
        sums = np.add.reduceat(pm, starts, axis=0)
        bits = (sums > 0).astype(np.uint64)
        out[slab_rows] = (bits << shifts).sum(axis=1, dtype=np.uint64)
        slab_rows, slab_arrays, slab_words = [], [], 0

    for row, a in enumerate(hash_arrays):
        if a is None or not len(a):
            continue
        if slab_words and slab_words + len(a) > slab_budget:
            _flush()
        slab_rows.append(row)
        slab_arrays.append(np.asarray(a, dtype=np.int64))
        slab_words += len(a)
    _flush()
    return pd.Series(out.view(np.int64), dtype="int64")


simhash_fold_udf = F.pandas_udf(_simhash_from_word_hashes, LongType())


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """simhash column: JVM xxhash64 per distinct word, numpy fold per batch."""
    word_hashes = F.expr(
        f"transform(array_distinct(filter(split(lower({text_col}), "
        f"'\\\\s+'), w -> w <> '')), w -> xxhash64(w))"
    )
    return df.withColumn("simhash", simhash_fold_udf(word_hashes))


def _simhash_signed(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, simhash) rows of df."""
    from .spec import SPARK, ident

    return with_simhash(
        df.selectExpr(f"{ident(SPARK, id_col)} AS doc", text_col), text_col
    ).selectExpr("doc", "simhash")


def _simhash_chunked(signed: DataFrame) -> DataFrame:
    """(doc, simhash) → one row per 16-bit chunk of the signature."""
    chunks = ", ".join(
        f"shiftrightunsigned(simhash, {k * 16}) & 65535" for k in range(4)
    )
    return signed.selectExpr(
        "doc", "simhash", f"posexplode(array({chunks})) AS (band_idx, band_hash)"
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    max_hamming: int = C.SIMHASH_HAMMING_MAX,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming via 16-bit
    chunk bucketing (pigeonhole over 4 chunks covers distance <= 3).
    Chunk buckets above max_bucket are skipped — a common 16-bit chunk on
    boilerplate corpora would otherwise explode O(n^2) (VERDICT r1 #6);
    quantify with `simhash_bucket_report`. Like minhash_candidate_pairs,
    the call runs the bucket census."""
    # one signature pass feeds the census and the collect
    sig = _simhash_signed(df, id_col, text_col).localCheckpoint(eager=False)
    pairs = _bucket_pairs(
        _simhash_chunked(sig), "simhash",
        "bit_count(a.simhash ^ b.simhash) AS hamming", max_bucket,
    )
    # MIN per pair — deterministic across chunk multiplicity and
    # duplicate-URL signature variants (see _bucket_pairs)
    return pairs.sparkSession.sql(
        "SELECT doc_a, doc_b, min(hamming) AS hamming FROM {pairs} "
        f"GROUP BY doc_a, doc_b HAVING min(hamming) <= {int(max_hamming)}",
        pairs=pairs,
    )


def simhash_bucket_report(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    signed = _simhash_signed(df, id_col, text_col)
    return lsh_bucket_report(_simhash_chunked(signed), max_bucket)


def losers_broadcastable(n_losers: int, n_total: int) -> bool:
    """The 10% rule (pipeline.BROADCAST_DUP_FRACTION_MAX) applied to a
    near-dup loser set: broadcast only when the losers are a
    small fraction of the corpus; a mirror-heavy corpus's loser set is
    proportional to the corpus and must sort-merge instead."""
    from .pipeline import BROADCAST_DUP_FRACTION_MAX

    return n_total > 0 and n_losers / n_total <= BROADCAST_DUP_FRACTION_MAX


# ----------------------------------------- near-dup cluster formation ------


def _canonical_edges(pairs: DataFrame) -> DataFrame:
    """(hi, lo) canonical undirected edges, self-loops dropped."""
    return (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SOCC'14): every node attaches its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. Input/output:
    canonical (hi, lo) edges. One groupBy + one co-keyed join.

    Round-6 trims (output-identical; each exchange/scan is a whole extra
    stage per iteration and the loop is scheduler-bound at small sizes):
    `sym` explodes both orientations from ONE scan of the edge set instead
    of a self-union, and the trailing distinct() is gone — small-star
    groups/aggregates per key and the round ends in one (hi, lo)
    aggregation, so duplicate large-star rows cannot change the round's
    result, only its intermediate size (bounded by 2x the input edge
    multiset)."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("hi").alias("src"), F.col("lo").alias("dst")),
                F.struct(F.col("lo").alias("src"), F.col("hi").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    nbr_min = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("mn"), F.col("src"))
    return (
        sym.join(nbr_min, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("hi"), m.alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
    )


def _small_star_raw(edges: DataFrame) -> DataFrame:
    """Small-star round WITHOUT the final distinct: every node rewires its
    smaller-or-equal neighbors (all of them, in canonical orientation) to
    the minimum among them. The caller dedups — the loop folds it into the
    same (hi, lo) aggregation that computes the convergence difference, so
    the round pays ONE keyed exchange instead of two (round 6)."""
    nbr_min = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    joined = edges.join(nbr_min, "hi")
    rewired = (
        joined.filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
    )
    kept = nbr_min.select(F.col("hi"), F.col("m").alias("lo"))
    return rewired.union(kept)


# Live canonical edges at or below this count finish on the driver: one
# Arrow collect plus a vectorized union-find there costs no more than a
# single distributed star round at the same size (about 3 s against 7 s at
# 1M edges on 4 cores), while every round pays ~0.7 s of driver analysis
# and scheduling however small the graph is.
_DRIVER_FINISH_MAX_EDGES = 1_000_000


def _driver_finish(edges: DataFrame) -> DataFrame:
    """Connected components of a collected canonical edge set → (doc,
    cluster_id). Nodes get codes in value order (Arrow sorts strings by
    bytes, as Spark does) and union-find hooks each root under the smaller
    root across an edge, so every component's final root is the code of its
    minimum member."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = edges.toArrow()
    ends = pa.chunked_array(tbl["hi"].chunks + tbl["lo"].chunks,
                            tbl.schema.field("hi").type)
    nodes = pc.unique(ends)
    nodes = nodes.take(pc.sort_indices(nodes))
    codes = pc.index_in(ends, value_set=nodes).to_numpy()
    hi, lo = codes[:tbl.num_rows], codes[tbl.num_rows:]
    root = np.arange(len(nodes))
    while True:
        a, b = root[hi], root[lo]
        cross = a != b
        if not cross.any():
            break
        np.minimum.at(root, np.maximum(a, b)[cross], np.minimum(a, b)[cross])
        while not np.array_equal(nxt := root[root], root):
            root = nxt
    schema = edges.selectExpr("hi AS doc", "lo AS cluster_id").schema
    return edges.sparkSession.createDataFrame(
        pa.table({"doc": nodes, "cluster_id": nodes.take(root)}), schema
    )


def star_contract_clusters(pairs: DataFrame, max_rounds: int = 20,
                           stats: dict | None = None) -> DataFrame:
    """Connected components over candidate pairs → (doc, cluster_id), with
    cluster_id = the lexicographically smallest member (the keep-first
    representative, same tie-break discipline as exact dedup).

    Input: pairs(doc_a, doc_b) from minhash_candidate_pairs /
    simhash_near_pairs, or any graph. A graph whose live canonical edge set
    fits _DRIVER_FINISH_MAX_EDGES is collected and finished by union-find on
    the driver — checked before the first round and after every round.
    Larger graphs run alternating large-star/small-star contraction rounds
    (Kiveris et al., SOCC'14), O(log n) rounds on ANY graph shape, until
    they fit or converge. At convergence the edge set is a union of stars,
    every member pointing DIRECTLY at its component's minimum node; labels
    read straight off the final edges. Convergence is CHECKED
    (set-difference, not a count heuristic) and raises if max_rounds was hit
    while edges still moved. Pass `stats` to receive {'rounds': n}, the
    number of distributed rounds run (0 when the driver finishes at once).

    The pairs plan is evaluated once, into a local checkpoint whose job also
    counts the live edges; every later read, the driver collect included,
    comes from checkpointed rows."""
    if stats is None:
        stats = {}
    stats["rounds"] = 0
    edges, live = _checkpoint_counted(_canonical_edges(pairs))
    moved = -1
    while live > _DRIVER_FINISH_MAX_EDGES:
        if stats["rounds"] == max_rounds:
            raise RuntimeError(
                f"star_contract_clusters did not converge in {max_rounds} "
                f"rounds ({moved} edge moves in the last round)"
            )
        # ONE keyed exchange per round does triple duty (round 6): the
        # un-distinct small-star output and the previous edge set are
        # tagged and union'ed, and a single (hi, lo) aggregation yields
        # membership on each side — that IS small-star's distinct, the new
        # edge set, AND the symmetric difference. The checkpoint is LAZY:
        # the one global aggregate below materializes it while counting
        # both the moved and the live edges, and next round's edges is a
        # cheap filter over the same cached frame.
        tagged = _small_star_raw(_large_star(edges)).select(
            "hi", "lo", F.lit(True).alias("_new")
        ).union(
            edges.select("hi", "lo", F.lit(False).alias("_new"))
        )
        merged = tagged.groupBy("hi", "lo").agg(
            F.max(F.col("_new")).alias("_in_new"),
            F.max(~F.col("_new")).alias("_in_old"),
        ).localCheckpoint(eager=False)
        moved, live = merged.agg(
            F.count_if(F.col("_in_new") != F.col("_in_old")),
            F.count_if(F.col("_in_new")),
        ).first()
        edges = merged.filter(F.col("_in_new")).select("hi", "lo")
        stats["rounds"] += 1
        if moved == 0:
            members = edges.select(
                F.col("hi").alias("doc"), F.col("lo").alias("cluster_id")
            )
            roots = (
                edges.select(F.col("lo").alias("doc"))
                .distinct()
                .join(edges.select(F.col("hi").alias("doc")), "doc",
                      "left_anti")
                .withColumn("cluster_id", F.col("doc"))
            )
            return members.union(roots)
    return _driver_finish(edges)


def keep_representatives(df: DataFrame, pairs: DataFrame,
                         id_col: str = "url",
                         broadcast_losers: bool | None = None,
                         n_total: int | None = None) -> DataFrame:
    """Drop every near-duplicate except its cluster representative (the
    min-id member). Docs in no pair are kept.

    broadcast_losers=None (default) is ADAPTIVE. The loser set is broadcast
    when Spark's plan statistics put it under autoBroadcastJoinThreshold
    (pipeline._broadcastable; no job). On the driver-finish path the labels
    are a LocalRelation, whose size Spark knows exactly. Otherwise the 10%
    rule (pipeline.BROADCAST_DUP_FRACTION_MAX) decides from measured counts:
    on mirror-heavy corpora the loser set is proportional to the corpus and
    an unconditional broadcast OOMs the executors (the round-1 exact-dedup
    lesson; VERDICT r2 #4), so those fall through to a keys-only sort-merge
    anti-join. Measuring costs losers.count() (a re-read of checkpointed
    edges) and, unless n_total is given, a df.count() whose plan prunes
    every column. Pin True/False when the dup fraction is known
    out-of-band."""
    from .pipeline import _broadcastable

    losers = (
        star_contract_clusters(pairs)
        .filter(F.col("doc") != F.col("cluster_id"))
        .select(F.col("doc").alias(id_col))
    )
    if broadcast_losers is None:
        broadcast_losers = _broadcastable(losers) or losers_broadcastable(
            losers.count(), df.count() if n_total is None else n_total
        )
    if broadcast_losers:
        losers = F.broadcast(losers)
    return df.join(losers, [id_col], "left_anti")
