"""Scalar/numpy mirror of the hyperplane-LSH ANN path (round 5) — the
independent spec behind `ann_lsh_embeddings`' DuckDB VALUES oracle.

Hyperplane LSH is deterministic end to end: the planes come from a seeded
generator (similarity._hyperplanes, imported here — same literals, not a
re-implementation), and every float reduction in the production plan is a
SEQUENTIAL left fold (`aggregate(..., 0.0, (acc, v) -> acc + v)`), which
np.cumsum reproduces bit-for-bit (0.0 + v0 == v0 exactly; both
accumulate left-associatively in float64). Products, the norm sqrt, the
qnorm*nnorm multiply, the division, and the floor-based round4 are all
single IEEE ops mirrored in the same order, so bucket bits, candidate
sets, rankings (ties broken by neighbor_id) and displayed values are
identical by construction — pinned against the production Spark output in
tests/test_dedup_similarity.py.
"""

from __future__ import annotations

import math

import numpy as np

from .. import constants as C
from .similarity import _hyperplanes


def _seqsum(a: np.ndarray) -> float:
    """Sequential left-fold sum — the SQL aggregate's order, NOT numpy's
    pairwise sum."""
    return float(np.cumsum(a)[-1]) if len(a) else 0.0


def ann_lsh_topk_mirror(
    vec_ids: list[int],
    vectors: list,
    dim: int,
    query_ids: set[int],
    k: int = C.COSINE_TOPK,
    n_planes: int = 8,
    n_tables: int = 8,
) -> list[tuple[int, int, int, float]]:
    """(query_id, neighbor_id, rank, cosine_sim) — the scalar rendering of
    similarity.ann_lsh_topk over in-memory vectors."""
    vecs = {
        int(i): np.asarray(v, dtype=np.float64)
        for i, v in zip(vec_ids, vectors)
    }
    norms = {i: math.sqrt(_seqsum(v * v)) for i, v in vecs.items()}

    tables = []
    for t in range(n_tables):
        planes = [np.array(p, dtype=np.float64)
                  for p in _hyperplanes(dim, n_planes, t)]
        buckets: dict[int, list[int]] = {}
        for i, v in vecs.items():
            b = 0
            for j, p in enumerate(planes):
                if _seqsum(v * p) > 0:
                    b |= 1 << j
            buckets.setdefault(b, []).append(i)
        tables.append(buckets)

    out: list[tuple[int, int, int, float]] = []
    for q in sorted(query_ids):
        cands: set[int] = set()
        for buckets in tables:
            for b, members in buckets.items():
                if q in members:
                    cands.update(members)
        cands.discard(q)
        scored = []
        qv = vecs[q]
        for n in cands:
            cos = _seqsum(qv * vecs[n]) / (norms[q] * norms[n])
            scored.append((n, cos))
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rank, (n, cos) in enumerate(scored[:k], start=1):
            disp = math.floor(cos * 1e4 + 0.5) / 1e4
            out.append((q, n, rank, disp))
    return out
