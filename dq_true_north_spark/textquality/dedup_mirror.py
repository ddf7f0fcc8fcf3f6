"""Scalar/numpy mirror of the MinHash→LSH→cluster AND SimHash pipelines
(round 5) — the independent spec used to generate DuckDB VALUES oracles
for `minhash_pairs_pages`, `near_dup_clusters_pages` and
`simhash_pairs_pages`.

Fidelity contract (every step mirrors dedup.py exactly; any divergence
hash-fails the driver check, and tests/test_dedup_similarity.py pins the
mirror against the production Spark output at two corpus sizes):

  shingling  — lower + split on ASCII/Java `\\s+` + non-empty filter,
               distinct 3-word space-joined shingles (spec.word_ngrams);
  signature  — minhash[i] = SIGNED min over shingles of
               xxhash64(shingle, lit(i)): one batched UTF-8 hash per
               shingle, then the vectorized 4-byte chain over all
               (shingle, perm) cells with np.minimum.reduceat per doc
               (the langmodel batch shape);
  banding    — band_hash = xxhash64(m[4j], .., m[4j+3], lit(j)): four
               vectorized 8-byte chains + one 4-byte chain;
  buckets    — size 2..max_bucket, members sorted by (doc, minhash) —
               Spark's sort_array(struct(doc, minhash)) ordering;
  pairs      — upper-triangle expansion, self-pair filter (duplicate
               urls), DETERMINISTIC per-pair reduction across bands and
               duplicate-url signature variants (max est / min hamming —
               the production aggregate), est_jaccard = round4(matches/64)
               with the >= threshold filter;
  clusters   — connected components, cluster_id = lexicographically
               smallest member (union-find here; the Spark side's label
               propagation and star contraction are both already pinned
               equal to union-find).
"""

from __future__ import annotations

import math
import re

import numpy as np

from .. import constants as C
from .xxh import SPARK_SEED, hash_int_v, hash_long_v, xxh64_batch

# Java \s (used by Spark's split regex) is ASCII-only: [ \t\n\x0B\f\r].
# Python \s would additionally match unicode spaces — spelled out so the
# two tokenizations can never diverge on e.g. NBSP.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingles(text: str, k: int = C.MINHASH_SHINGLE_WORDS) -> list[str]:
    words = [w for w in _JAVA_WS.split(text.lower()) if w != ""]
    if len(words) < k:
        return []
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(words) - k + 1):
        s = " ".join(words[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def minhash_signatures(texts: list[str],
                       n_perms: int = C.MINHASH_PERMS) -> np.ndarray:
    """(n_docs, n_perms) int64 signatures. Docs with no shingles are
    returned as all-int64.min SENTINEL rows (Spark's signature there is
    all-NULL) — callers must mask them via their own shingle check.
    Implementation: one batched UTF-8 hash per shingle (seeding the
    chain), then a flat vectorized 4-byte pass per permutation,
    min-reduced per document with np.minimum.reduceat."""
    shingle_bytes: list[bytes] = []
    bounds: list[int] = [0]
    for t in texts:
        for s in _shingles(t):
            shingle_bytes.append(s.encode("utf-8"))
        bounds.append(len(shingle_bytes))
    if not shingle_bytes:
        return np.full((len(texts), n_perms), np.iinfo(np.int64).min,
                       dtype=np.int64)
    seed_arr = xxh64_batch(shingle_bytes, SPARK_SEED)      # (n_sh,)
    starts = np.array(bounds[:-1])
    nonempty = np.diff(bounds) > 0
    # reduceat over the NON-EMPTY segments' starts only, scattered back.
    # Never pass a placeholder start for empty docs: reduceat treats a
    # non-increasing index pair as a single-element segment, which CORRUPTS
    # THE PRECEDING DOC's reduction (it ends at the placeholder, returning
    # its first shingle's hash instead of the min — the round-5 review
    # catch, pinned by the empty-doc-after-nonempty edge-case test).
    # Empty docs contribute no rows, so consecutive non-empty starts still
    # delimit exactly one document's shingles.
    mins = np.full((len(texts), n_perms), np.iinfo(np.int64).min,
                   dtype=np.int64)
    ne_starts = starts[nonempty]
    # per-perm flat pass, not a (n_sh, 64) broadcast: the flat arrays fit
    # cache and skip the 3 GB of broadcast temporaries (measured 8.4 s →
    # ~0.7 s for 600k shingles)
    for i in range(n_perms):
        col = hash_int_v(np.uint64(i), seed_arr).view(np.int64)
        mins[nonempty, i] = np.minimum.reduceat(col, ne_starts)
    return mins


def _band_hashes(sig: np.ndarray, bands: int = C.MINHASH_BANDS) -> np.ndarray:
    """(n_docs, bands) int64 band keys: xxhash64(m0..m3, lit(band))."""
    n_perms = sig.shape[1]
    r = n_perms // bands
    m = sig.view(np.uint64).reshape(sig.shape[0], bands, r)
    seeds = np.full((sig.shape[0], bands), SPARK_SEED, dtype=np.uint64)
    for t in range(r):
        seeds = hash_long_v(m[:, :, t], seeds)
    j = np.arange(bands, dtype=np.uint64).reshape(1, -1)
    return hash_int_v(j, seeds).view(np.int64)


def minhash_pairs_mirror(
    urls: list[str],
    texts: list[str],
    bands: int = C.MINHASH_BANDS,
    n_perms: int = C.MINHASH_PERMS,
    threshold: float = C.JACCARD_THRESHOLD,
    max_bucket: int = 64,
) -> list[tuple[str, str, float]]:
    """(doc_a, doc_b, est_jaccard) — the scalar rendering of
    minhash_candidate_pairs. doc_a < doc_b (bucket members are sorted by
    (doc, signature), equal-url self-pairs filtered), est_jaccard floor-
    rounded to 4 decimals like round4_col."""
    has_shingles = [len(_shingles(t)) > 0 for t in texts]
    sig = minhash_signatures(texts, n_perms)
    bh = _band_hashes(sig, bands)

    buckets: dict[tuple[int, int], list[int]] = {}
    for d in range(len(urls)):
        if not has_shingles[d]:
            # Spark: all-NULL minhash → band hash = hash of lit(j) alone;
            # absent from the synthetic corpus, mirrored for completeness
            h = SPARK_SEED
            for j in range(bands):
                hj = hash_int_v(np.array([j], np.uint64),
                                np.array([h], np.uint64)).view(np.int64)[0]
                buckets.setdefault((j, int(hj)), []).append(d)
            continue
        for j in range(bands):
            buckets.setdefault((j, int(bh[d, j])), []).append(d)

    pairs: dict[tuple[str, str], float] = {}
    for (_j, _h), members in buckets.items():
        if not (2 <= len(members) <= max_bucket):
            continue
        members = sorted(members, key=lambda d: (urls[d], tuple(sig[d])))
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                if urls[a] == urls[b]:
                    continue
                key = (urls[a], urls[b])
                if has_shingles[a] and has_shingles[b]:
                    matches = int(np.sum(sig[a] == sig[b]))
                else:
                    matches = 0              # NULL == NULL is NULL in SQL
                est = math.floor(matches / n_perms * 1e4 + 0.5) / 1e4
                # MAX per pair — mirrors the production deterministic
                # aggregate (duplicate-URL ids can carry different
                # signatures; first-wins would be bucket-order-dependent)
                if est > pairs.get(key, -1.0):
                    pairs[key] = est
    return sorted(
        (a, b, est) for (a, b), est in pairs.items() if est >= threshold
    )


def near_dup_clusters_mirror(
    pairs: list[tuple[str, str, float]],
) -> list[tuple[str, str, int]]:
    """(doc, cluster_id, is_representative) — union-find over the pair
    graph, cluster_id = smallest member string; node set = docs appearing
    in at least one pair (the Spark side's label frame is built from the
    edge list)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    members: dict[str, list[str]] = {}
    for d in parent:
        members.setdefault(find(d), []).append(d)
    out = []
    for root, docs in members.items():
        label = min(docs)
        for d in docs:
            out.append((d, label, int(d == label)))
    return sorted(out)


# ------------------------------------------------------------- SimHash -----


def simhash_signatures(texts: list[str]) -> np.ndarray:
    """(n_docs,) int64 SimHash signatures — the scalar rendering of
    with_simhash: distinct lowercase words (Java \\s split), one
    single-argument xxhash64 per word (batched), ±1 bit-matrix sum per
    doc, sign → bit. Same reduceat shape as the production numpy fold."""
    word_bytes: list[bytes] = []
    bounds = [0]
    for t in texts:
        seen: set[str] = set()
        for w in _JAVA_WS.split(t.lower()):
            if w != "" and w not in seen:
                seen.add(w)
                word_bytes.append(w.encode("utf-8"))
        bounds.append(len(word_bytes))
    out = np.zeros(len(texts), dtype=np.uint64)
    if not word_bytes:
        return out.view(np.int64)
    hashes = xxh64_batch(word_bytes, SPARK_SEED)
    shifts = np.arange(64, dtype=np.uint64)
    pm = (((hashes[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
          * 2 - 1)
    starts = np.array(bounds[:-1])
    nonempty = np.diff(bounds) > 0
    # non-empty starts only — a placeholder start for a word-less doc
    # would corrupt the PRECEDING doc's reduceat segment (see
    # minhash_signatures)
    sums = np.add.reduceat(pm, starts[nonempty], axis=0)
    bits = (sums > 0).astype(np.uint64)
    out[nonempty] = (bits << shifts).sum(axis=1, dtype=np.uint64)
    return out.view(np.int64)


def simhash_pairs_mirror(
    urls: list[str],
    texts: list[str],
    max_hamming: int = C.SIMHASH_HAMMING_MAX,
    max_bucket: int = 64,
) -> list[tuple[str, str, int]]:
    """(doc_a, doc_b, hamming) — the scalar rendering of
    simhash_near_pairs: 4 x 16-bit chunk buckets (pigeonhole for
    distance <= max_hamming), size-capped, members sorted by
    (doc, simhash), popcount-of-xor verification."""
    sig = simhash_signatures(texts)
    u = sig.view(np.uint64)
    buckets: dict[tuple[int, int], list[int]] = {}
    for d in range(len(urls)):
        for k in range(4):
            chunk = int((u[d] >> np.uint64(16 * k)) & np.uint64(0xFFFF))
            buckets.setdefault((k, chunk), []).append(d)
    pairs: dict[tuple[str, str], int] = {}
    for (_k, _c), members in buckets.items():
        if not (2 <= len(members) <= max_bucket):
            continue
        members = sorted(members, key=lambda d: (urls[d], int(sig[d])))
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                if urls[a] == urls[b]:
                    continue
                key = (urls[a], urls[b])
                h = int(bin(int(u[a]) ^ int(u[b])).count("1"))
                # MIN per pair — mirrors the production aggregate
                if h < pairs.get(key, 65):
                    pairs[key] = h
    return sorted(
        (a, b, h) for (a, b), h in pairs.items() if h <= max_hamming
    )
