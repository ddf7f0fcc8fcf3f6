"""Dedup + similarity-search correctness against planted ground truth."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from dq_true_north_spark.corpus import pages_df
from dq_true_north_spark.textquality.dedup import (
    minhash_candidate_pairs,
    simhash_near_pairs,
    with_minhash,
)
from dq_true_north_spark.textquality.fingerprint import fingerprint_text, fingerprint_udf
from dq_true_north_spark.textquality.multimodal import decode_media_meta
from dq_true_north_spark.textquality.similarity import ann_lsh_topk, cosine_topk
from tests.conftest import SF_DIR


def _planted_dup_pairs(n: int) -> set[tuple[int, int]]:
    """Class 7 copies class 8's text within each block of 20."""
    return {(i, i + 1) for i in range(7, n, 20)}


def test_minhash_finds_planted_dups(spark):
    n = 1000
    pages = pages_df(spark, n, partitions=8)
    pairs = minhash_candidate_pairs(pages, id_col="url", text_col="text").collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # exact-dup pairs must be found with est_jaccard == 1.0
    import re

    def idx(url):
        return int(re.search(r"page-(\d+)\.html", url).group(1))

    found_idx = {tuple(sorted((idx(a), idx(b)))) for a, b in found}
    planted = _planted_dup_pairs(n)
    hit = planted & found_idx
    assert len(hit) / len(planted) >= 0.99, f"minhash recall {len(hit)}/{len(planted)}"
    perfect = [r for r in pairs if r["est_jaccard"] == 1.0]
    assert len(perfect) >= len(planted)


def test_minhash_signature_shape(spark):
    pages = pages_df(spark, 60, partitions=2)
    sig = with_minhash(pages.select("url", "text")).select("minhash").first()
    assert len(sig["minhash"]) == 64


def test_simhash_identical_texts_distance_zero(spark):
    n = 600
    pages = pages_df(spark, n, partitions=4)
    pairs = simhash_near_pairs(pages, id_col="url", text_col="text").collect()
    import re

    def idx(url):
        return int(re.search(r"page-(\d+)\.html", url).group(1))

    zero = {tuple(sorted((idx(r["doc_a"]), idx(r["doc_b"])))) for r in pairs if r["hamming"] == 0}
    planted = _planted_dup_pairs(n)
    assert planted <= zero, f"missing {planted - zero}"


def test_cosine_topk_shape_and_selfexclusion(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = cosine_topk(emb, "vec_id % 100 = 0", k=5).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        sims = [r["cosine_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    exact = cosine_topk(emb, "vec_id % 100 = 0", k=10).collect()
    approx = ann_lsh_topk(emb, dim=64, query_filter="vec_id % 100 = 0", k=10, n_planes=4, n_tables=8).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ap = {}
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # multi-table OR-construction: 8 tables x 6 bits; on weakly-structured
    # random embeddings expected recall ~0.5+, far above the ~2% chance level
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.35, recalls
    emb.unpersist()


def test_fingerprint_deterministic_and_collision_free(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = docs.select("doc_id", "text", fingerprint_udf(F.col("text")).alias("fp")).collect()
    # UDF output matches the driver-side reference implementation
    for r in out[:50]:
        assert r["fp"] == fingerprint_text(r["text"])
    # identical texts → identical fingerprints; distinct texts → distinct
    by_text = {}
    for r in out:
        by_text.setdefault(r["text"], set()).add(r["fp"])
    for fps in by_text.values():
        assert len(fps) == 1


def test_media_meta_plumbing(spark):
    pages = pages_df(spark, 200, partitions=4)
    meta = decode_media_meta(pages, binary_col="html").collect()
    assert len(meta) == 200
    for r in meta[:20]:
        assert r["format"] == "html"          # magic sniffing real
        assert r["byte_len"] > 0
        # codec-dependent fields are honestly NULL, never fabricated
        assert r["decoder"] == "unsupported"
        assert r["width"] is None and r["height"] is None
        assert r["n_frames"] is None
        assert r["sample_frame_offsets"] == []


def test_media_meta_real_header_parsing(spark):
    """PNG/GIF/JPEG dimensions come from real container headers."""
    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 8
    )
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 20
    # SOI + APP0 (len 16) + SOF0: len 17, precision 8, h=100, w=250
    jpeg = (
        b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (100).to_bytes(2, "big") + (250).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
        + b"\xff\xd9"
    )
    df = spark.createDataFrame(
        [("u1", bytearray(png)), ("u2", bytearray(gif)), ("u3", bytearray(jpeg))],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in decode_media_meta(df, "html").collect()}
    assert (rows["u1"]["format"], rows["u1"]["width"], rows["u1"]["height"]) == ("png", 640, 480)
    assert rows["u1"]["n_frames"] == 1 and rows["u1"]["decoder"] == "headers"
    assert (rows["u2"]["format"], rows["u2"]["width"], rows["u2"]["height"]) == ("gif", 320, 200)
    assert rows["u2"]["n_frames"] is None  # animated? needs a codec
    assert (rows["u3"]["format"], rows["u3"]["width"], rows["u3"]["height"]) == ("jpeg", 250, 100)


def test_fingerprint_vectorized_matches_scalar_spec(spark):
    """Frozen-spec parity: chunked numpy Horner == per-byte definition."""
    from dq_true_north_spark.textquality.fingerprint import (
        fingerprint_text_scalar,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").limit(100).collect()]
    texts += ["", "x" * 4095, "y" * 4096, "z" * 4097, "a b\t c\n\nd"]
    for t in texts:
        assert fingerprint_text(t) == fingerprint_text_scalar(t)


def _degenerate_pages(spark, n=300):
    """All-identical text: one giant LSH bucket in every band/chunk."""
    rows = [(f"https://h/p{i:05d}", "the same boilerplate text repeated "
             "over and over for every single page") for i in range(n)]
    return spark.createDataFrame(rows, "url string, text string")


def test_minhash_bucket_cap_bounds_pairs_and_is_reported(spark):
    from dq_true_north_spark.textquality.dedup import minhash_bucket_report

    pages = _degenerate_pages(spark)
    cap = 16
    n_pairs = minhash_candidate_pairs(
        pages, id_col="url", text_col="text", max_bucket=cap
    ).count()
    # every bucket holds all 300 docs > cap → skipped → zero pairs, NOT
    # O(n^2); and the truncation is visible in the report
    assert n_pairs == 0
    rep = minhash_bucket_report(
        pages, id_col="url", text_col="text", max_bucket=cap
    ).first()
    assert rep["n_capped"] >= 1
    assert rep["largest_bucket"] == 300
    assert rep["docs_in_capped"] >= 300


def test_simhash_chunk_cap_bounds_pairs_and_is_reported(spark):
    from dq_true_north_spark.textquality.dedup import simhash_bucket_report

    pages = _degenerate_pages(spark)
    cap = 16
    n_pairs = simhash_near_pairs(
        pages, id_col="url", text_col="text", max_bucket=cap
    ).count()
    assert n_pairs == 0  # capped, not 300*299/2 = 44850
    rep = simhash_bucket_report(
        pages, id_col="url", text_col="text", max_bucket=cap
    ).first()
    assert rep["n_capped"] == 4          # all 4 chunks of the one signature
    assert rep["largest_bucket"] == 300


def test_simhash_fold_is_batch_split_invariant(spark):
    """Vectorized reduceat fold gives identical signatures at any
    partitioning/batch split (no cross-row state)."""
    from dq_true_north_spark.textquality.dedup import with_simhash

    pages1 = pages_df(spark, 300, partitions=1)
    pages7 = pages_df(spark, 300, partitions=7)
    s1 = {r["url"]: r["simhash"] for r in with_simhash(pages1.select("url", "text")).collect()}
    s7 = {r["url"]: r["simhash"] for r in with_simhash(pages7.select("url", "text")).collect()}
    assert s1 == s7
    # empty text folds to 0, not an error
    empty = spark.createDataFrame([("u", ""), ("v", "   ")], "url string, text string")
    vals = {r["url"]: r["simhash"] for r in with_simhash(empty).collect()}
    assert vals == {"u": 0, "v": 0}


def test_near_dup_clusters_chain_and_representatives(spark):
    """A pair chain a-b, b-c, c-d collapses to ONE cluster labeled by its
    min member; singletons outside any pair are untouched by
    keep_representatives."""
    from dq_true_north_spark.textquality.dedup import (
        keep_representatives,
        star_contract_clusters,
    )

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {r["doc"]: r["cluster_id"]
           for r in star_contract_clusters(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}

    docs = spark.createDataFrame(
        [(u, f"text {u}") for u in ["a", "b", "c", "d", "x", "y", "lonely"]],
        "url string, text string",
    )
    kept = {r["url"] for r in keep_representatives(docs, pairs).collect()}
    assert kept == {"a", "x", "lonely"}


def test_near_dup_clusters_on_planted_corpus(spark):
    """Planted class-7/8 exact-dup pairs land in the same cluster and only
    one member of each pair survives keep_representatives."""
    import re

    from dq_true_north_spark.textquality.dedup import (
        keep_representatives,
        star_contract_clusters,
    )

    n = 600
    pages = pages_df(spark, n, partitions=4)
    pairs = minhash_candidate_pairs(pages, id_col="url", text_col="text")
    labels = {r["doc"]: r["cluster_id"]
              for r in star_contract_clusters(pairs).collect()}

    def idx(url):
        return int(re.search(r"page-(\d+)\.html", url).group(1))

    by_idx = {idx(u): c for u, c in labels.items()}
    planted = _planted_dup_pairs(n)
    same = sum(1 for a, b in planted
               if a in by_idx and b in by_idx and by_idx[a] == by_idx[b])
    assert same / len(planted) >= 0.99

    kept = {r["url"] for r in keep_representatives(pages, pairs, "url").collect()}
    survivors = sum(1 for a, b in planted
                    if sum(1 for u in labels if idx(u) in (a, b) and u in kept) <= 1)
    assert survivors == len(planted)
    # non-paired docs all survive (urls, not rows: class 13 reuses a url)
    all_urls = {r["url"] for r in pages.select("url").distinct().collect()}
    losers = {d for d, c in labels.items() if d != c}
    assert kept == all_urls - losers


def _union_find_labels(edges):
    """Reference connected components: node -> min member of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), set()).add(x)
    return {x: min(m) for m in comp.values() for x in m}


def _random_graph(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    return sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(n_edges)})


def test_near_dup_clusters_matches_union_find_reference(spark):
    """star_contract_clusters == driver-side union-find on seeded random
    graphs with an 8-node chain, and on a 200-node chain; under the default
    budget each finishes on the driver without a distributed round."""
    from dq_true_north_spark.textquality.dedup import star_contract_clusters

    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(8)]
    long_chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(200)]
    graphs = [_random_graph(seed, 40, 30) + chain for seed in (1, 2, 3)]
    for edges in graphs + [long_chain]:
        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        stats: dict = {}
        got = {r["doc"]: r["cluster_id"] for r in star_contract_clusters(
            pairs, max_rounds=15, stats=stats).collect()}
        assert got == _union_find_labels(edges)
        assert stats == {"rounds": 0}


def test_keep_representatives_join_strategies_agree(spark):
    from dq_true_north_spark.textquality.dedup import keep_representatives

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    docs = spark.createDataFrame(
        [(u, u) for u in "abcxyz"], "url string, text string"
    )
    kb = {r["url"] for r in keep_representatives(docs, pairs, broadcast_losers=True).collect()}
    ka = {r["url"] for r in keep_representatives(docs, pairs, broadcast_losers=False).collect()}
    assert kb == ka == {"a", "x", "z"}


def test_media_transform_plumbing_isolates_unsupported(spark):
    """transform_media: binary-in/binary-out contract is real; codec-less
    ops degrade to per-row status='unsupported', never task failures;
    passthrough round-trips bytes exactly."""
    from dq_true_north_spark.textquality.multimodal import transform_media

    pages = pages_df(spark, 50, partitions=4)
    out = transform_media(pages, "html", op="resize", width=64, height=64).collect()
    assert len(out) == 50
    for r in out[:10]:
        assert r["status"] == "unsupported"
        assert "codec" in r["error"]
        assert r["out_bytes"] is None

    thru = transform_media(pages, "html", op="passthrough").collect()
    # class 13 reuses a url → compare against the SET of blobs per url
    orig: dict[str, set[bytes]] = {}
    for r in pages.select("url", "html").collect():
        orig.setdefault(r["url"], set()).add(bytes(r["html"]))
    for r in thru:
        assert r["status"] == "ok"
        assert bytes(r["out_bytes"]) in orig[r["url"]]
        assert r["out_byte_len"] == len(bytes(r["out_bytes"]))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        transform_media(pages, "html", op="rotate")


def test_keep_representatives_auto_strategy(spark):
    """broadcast_losers=None applies the exact-dedup 10% rule (VERDICT r2
    #4): the decision function flips at BROADCAST_DUP_FRACTION_MAX, and the
    auto path returns the same rows as either pinned strategy in both the
    low-dup and mirror-heavy regimes."""
    from dq_true_north_spark.textquality.dedup import (
        keep_representatives,
        losers_broadcastable,
    )
    from dq_true_north_spark.textquality.pipeline import (
        BROADCAST_DUP_FRACTION_MAX,
    )

    assert losers_broadcastable(5, 100)           # 5% -> broadcast
    assert not losers_broadcastable(50, 100)      # 50% -> sort-merge
    assert not losers_broadcastable(0, 0)         # degenerate
    thr = int(BROADCAST_DUP_FRACTION_MAX * 100)
    assert losers_broadcastable(thr, 100)         # boundary inclusive
    assert not losers_broadcastable(thr + 1, 100)

    # low-dup corpus: 2 losers of 26 docs
    low_pairs = spark.createDataFrame(
        [("b", "a"), ("x", "y")], "doc_a string, doc_b string"
    )
    docs = spark.createDataFrame(
        [(f"{c}", f"{c}") for c in "abcdefghijklmnopqrstuvwxyz"],
        "url string, text string",
    )
    want_low = {r["url"] for r in
                keep_representatives(docs, low_pairs, broadcast_losers=True).collect()}
    got_low = {r["url"] for r in
               keep_representatives(docs, low_pairs).collect()}
    assert got_low == want_low

    # mirror-heavy corpus: one giant cluster, 25 of 26 docs are losers
    hi_pairs = spark.createDataFrame(
        [("a", f"{c}") for c in "bcdefghijklmnopqrstuvwxyz"],
        "doc_a string, doc_b string",
    )
    want_hi = {r["url"] for r in
               keep_representatives(docs, hi_pairs, broadcast_losers=False).collect()}
    got_hi = {r["url"] for r in keep_representatives(docs, hi_pairs).collect()}
    assert got_hi == want_hi == {"a"}


def test_keep_representatives_counts_only_when_statistics_cannot_decide(
        spark, jobs_run_by):
    """On the driver-finish path the loser set is a LocalRelation whose size
    Spark knows, so the auto strategy broadcasts it without counting:
    building keep_representatives submits exactly the jobs of
    star_contract_clusters. With broadcasting ruled out by the statistics,
    the 10% rule counts the losers and the corpus, and the rows stay the
    same."""
    from dq_true_north_spark.textquality.dedup import (
        keep_representatives,
        star_contract_clusters,
    )

    pairs = spark.createDataFrame(
        [("b", "a"), ("x", "y")], "doc_a string, doc_b string"
    )
    docs = spark.createDataFrame(
        [(c, c) for c in "abcdefghijklmnopqrstuvwxyz"], "url string, text string"
    )
    star = len(jobs_run_by(lambda: star_contract_clusters(pairs)))
    built = []
    assert len(jobs_run_by(lambda: built.append(keep_representatives(docs, pairs)))) == star
    want = {r["url"] for r in built[0].collect()}
    assert want == set("acdefghijklmnopqrstuvwxz")

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        counted = len(jobs_run_by(lambda: built.append(keep_representatives(docs, pairs))))
        assert counted > star, (counted, star)
        assert {r["url"] for r in built[1].collect()} == want
    finally:
        spark.conf.set(key, saved)


def test_lsh_pairs_never_emit_self_pairs(spark):
    """A reused id (the synthetic corpus's class 13 url reuse) must not
    produce doc_a == doc_b rows (round-2 ADVICE #2)."""
    from dq_true_north_spark.textquality.dedup import (
        minhash_candidate_pairs,
        simhash_near_pairs,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [("dup-url", text), ("dup-url", text), ("other", text)]
    df = spark.createDataFrame(rows, "url string, text string")
    mh = minhash_candidate_pairs(df, id_col="url", text_col="text").collect()
    assert mh, "identical texts must still pair across distinct ids"
    assert all(r["doc_a"] != r["doc_b"] for r in mh)
    sh = simhash_near_pairs(df, id_col="url", text_col="text").collect()
    assert sh
    assert all(r["doc_a"] != r["doc_b"] for r in sh)


def test_gif_frame_count_codec_free(spark):
    """Animated GIFs get a real n_frames from the block walk — two image
    descriptors => n_frames=2, decoder='headers', offsets point at the
    0x2C blocks (VERDICT r2 #9)."""
    from dq_true_north_spark.textquality.multimodal import (
        _gif_frame_offsets,
        decode_media_meta,
    )

    def sub(data: bytes) -> bytes:
        return bytes([len(data)]) + data + b"\x00"

    hdr = (b"GIF89a" + (3).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + bytes([0x00, 0, 0]))
    gce = b"\x21\xf9" + sub(b"\x00\x00\x00\x00")
    img = (b"\x2c" + bytes([0, 0, 0, 0, 3, 0, 2, 0, 0x00])
           + b"\x02" + sub(b"\x44\x01"))
    two_frame = hdr + gce + img + gce + img + b"\x3b"
    offs = _gif_frame_offsets(two_frame)
    assert offs is not None and len(offs) == 2
    assert all(two_frame[o] == 0x2C for o in offs)

    # with a global color table the walk must skip it before the blocks
    hdr_gct = (b"GIF89a" + (3).to_bytes(2, "little")
               + (2).to_bytes(2, "little") + bytes([0x80, 0, 0])
               + b"\x00" * 6)
    assert _gif_frame_offsets(hdr_gct + img + b"\x3b") == [19]
    # truncated stream -> honest None, never a guess
    assert _gif_frame_offsets(two_frame[:15]) is None

    df = spark.createDataFrame(
        [("g2", bytearray(two_frame))], "url string, html binary"
    )
    row = decode_media_meta(df, "html").collect()[0]
    assert row["n_frames"] == 2
    assert row["decoder"] == "headers"
    assert (row["format"], row["width"], row["height"]) == ("gif", 3, 2)


def test_star_contraction_matches_union_find_and_handles_long_chains(
        spark, monkeypatch):
    """With the driver finish disabled, alternating large-star/small-star
    rounds == union-find on seeded random graphs AND on a 200-node chain
    (diameter 200), which converges in O(log n) rounds — the round COUNT is
    measured via stats, not just implied by convergence. A round budget too
    small for the chain must REFUSE, not silently return partial labels."""
    import pytest

    from dq_true_north_spark.textquality import dedup

    monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 0)
    for seed in (7, 8):
        edges = _random_graph(seed, 60, 45)
        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        stats: dict = {}
        got = {r["doc"]: r["cluster_id"] for r in
               dedup.star_contract_clusters(pairs, stats=stats).collect()}
        assert got == _union_find_labels(edges), f"seed {seed}"
        assert stats["rounds"] >= 1, stats

    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(200)]
    pairs = spark.createDataFrame(chain, "doc_a string, doc_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.star_contract_clusters(pairs, max_rounds=4)
    stats = {}
    got = {r["doc"]: r["cluster_id"]
           for r in dedup.star_contract_clusters(
               pairs, max_rounds=15, stats=stats).collect()}
    assert got == _union_find_labels(chain)
    assert set(got.values()) == {"c0000"}
    assert stats["rounds"] <= 15, stats


def test_star_contraction_hands_off_to_driver_mid_run(spark, monkeypatch):
    """A budget between a graph's starting and converged edge counts runs
    distributed rounds until the live edges fit, then finishes on the
    driver: fewer rounds than the all-distributed run, same labels."""
    from dq_true_north_spark.textquality import dedup

    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(200)]
    # two-hop chords put the chain above its converged edge count
    chords = [(f"c{i:04d}", f"c{i + 2:04d}") for i in range(199)]
    graphs = [_random_graph(seed, 60, 45) for seed in (7, 8)] + [chain + chords]
    for edges in graphs:
        expected = _union_find_labels(edges)
        # a converged edge set is one edge per non-minimum member
        converged = len(expected) - len(set(expected.values()))
        assert len(edges) > converged
        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 0)
        full: dict = {}
        dedup.star_contract_clusters(pairs, stats=full)
        # the round before convergence already holds the converged edges
        monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", converged)
        stats: dict = {}
        got = {r["doc"]: r["cluster_id"] for r in
               dedup.star_contract_clusters(pairs, stats=stats).collect()}
        assert got == expected
        assert 1 <= stats["rounds"] < full["rounds"], (stats, full)


def test_star_contraction_counts_live_edges_in_its_checkpoint(spark, jobs_run_by):
    """The live-edge count is observed in the job that checkpoints the
    pairs: a call on a 10,000-node chain runs the checkpoint (a shuffle
    stage and its result) and the driver finish's collect, and no count()
    job of its own."""
    import pyarrow as pa

    from dq_true_north_spark.textquality.dedup import star_contract_clusters

    n = 10_000
    chain = spark.createDataFrame(pa.table({
        "doc_a": [f"c{i:05d}" for i in range(n)],
        "doc_b": [f"c{i + 1:05d}" for i in range(n)],
    }))
    clusters = []
    assert len(jobs_run_by(lambda: clusters.append(star_contract_clusters(chain)))) <= 3
    assert clusters[0].count() == n + 1


def test_bmp_resize_and_wav_features_are_real(spark):
    """Codec-free media ops do REAL work: BMP resize round-trips pixels
    through decode -> nearest-neighbor -> re-encode; WAV features match the
    analytic values for a pure sine; GIF frame_sample emits a VALID GIF
    holding the sampled frames."""
    import numpy as np

    from dq_true_north_spark.textquality.multimodal import (
        _decode_bmp,
        _encode_bmp,
        _gif_frame_offsets,
        extract_audio_features,
        sample_media_df,
        sample_media_rows,
        transform_media,
    )

    media = sample_media_df(spark)
    resized = {r["url"]: r for r in
               transform_media(media, "html", op="resize", width=3, height=2).collect()}
    assert resized["media://bmp"]["status"] == "ok"
    out = _decode_bmp(bytes(resized["media://bmp"]["out_bytes"]))
    src = _decode_bmp(dict(sample_media_rows())["media://bmp"])
    assert out.shape == (2, 3, 3)
    assert np.array_equal(out, src[[0, 2]][:, [0, 2, 4]])   # exact NN sample
    assert resized["media://png"]["status"] == "ok"            # zlib decode
    from dq_true_north_spark.textquality.multimodal import _decode_png

    png_out = _decode_png(bytes(resized["media://png"]["out_bytes"]))
    png_src = _decode_png(dict(sample_media_rows())["media://png"])
    assert png_out.shape == (2, 3, 3)
    # nearest-neighbor on a 8x5 source at 3x2: rows (0*5)//2,(1*5)//2 and
    # cols (0*8)//3,(1*8)//3,(2*8)//3
    assert np.array_equal(png_out, png_src[[0, 2]][:, [0, 2, 5]])

    assert resized["media://gif"]["status"] == "ok"            # LZW decode
    from dq_true_north_spark.textquality.multimodal import _decode_gif_frame0

    gif_idx, gif_pal = _decode_gif_frame0(
        bytes(resized["media://gif"]["out_bytes"])
    )
    gif_src, _ = _decode_gif_frame0(dict(sample_media_rows())["media://gif"])
    assert gif_idx.shape == (2, 3)
    assert np.array_equal(gif_idx, gif_src[[0, 1]][:, [0, 1, 2]])

    sampled = {r["url"]: r for r in
               transform_media(media, "html", op="frame_sample", n_frames=2).collect()}
    gif_out = bytes(sampled["media://gif"]["out_bytes"])
    assert len(_gif_frame_offsets(gif_out)) == 2            # valid 2-frame GIF
    assert gif_out[:13] == dict(sample_media_rows())["media://gif"][:13]

    audio = {r["url"]: r for r in
             extract_audio_features(media, "html").collect()}
    wav = audio["media://wav"]
    assert wav["status"] == "ok"
    assert (wav["sample_rate"], wav["n_channels"], wav["n_samples"]) == (8000, 1, 8000)
    assert wav["duration_s"] == 1.0
    # 440 Hz sine at amplitude 0.5: rms = 0.5/sqrt(2), peak = 0.5
    assert abs(wav["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert wav["peak"] == 0.5
    assert audio["media://html"]["status"] == "unsupported"


def test_bmp_variants_decode(spark):
    """32-bit and top-down (negative height) BMPs decode correctly; RLE
    compression is refused, not guessed."""
    import numpy as np
    import pytest as _pytest

    from dq_true_north_spark.textquality.multimodal import _decode_bmp

    h, w = 2, 2
    px = np.arange(h * w * 4, dtype=np.uint8).reshape(h, w, 4)
    def hdr(height, bpp, comp, img_size):
        return (b"BM" + (54 + img_size).to_bytes(4, "little") + b"\x00" * 4
                + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
                + w.to_bytes(4, "little")
                + height.to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
                + comp.to_bytes(4, "little") + img_size.to_bytes(4, "little")
                + b"\x00" * 16)
    top_down = hdr(-h, 32, 0, 16) + px.reshape(h, w * 4).tobytes()
    d = _decode_bmp(top_down)
    assert d.shape == (2, 2, 3)
    assert np.array_equal(d[0, 0], px[0, 0, [2, 1, 0]])     # row order kept
    with _pytest.raises(ValueError, match="unsupported BMP"):
        _decode_bmp(hdr(h, 8, 0, 16) + bytes(16))           # palette bmp
    with _pytest.raises(ValueError, match="unsupported BMP"):
        _decode_bmp(hdr(h, 24, 1, 16) + bytes(16))          # RLE compressed


# --------------------------------------------------- xxh mirror (round 5) ---


def test_xxh64_matches_spark(spark):
    """The scalar xxhash64 chain mirror (textquality/xxh.py) is
    bit-identical to the JVM: strings (UTF-8, incl. multibyte), int and
    long columns, multi-column chaining with seed pass-through."""
    from dq_true_north_spark.textquality.xxh import spark_xxhash64

    df = spark.createDataFrame(
        [("hello", 3, -12345678901234), ("", 0, 7), ("a b c", 63, 2 ** 62),
         ("ünïcødé £ の", 1, -1), ("x" * 100, 31, 0)],
        "s string, i int, l long")
    rows = df.selectExpr(
        "s", "i", "l",
        "xxhash64(s) AS hs", "xxhash64(s, i) AS hsi",
        "xxhash64(l) AS hl", "xxhash64(l, l, i) AS hlli",
    ).collect()
    for r in rows:
        assert spark_xxhash64([r["s"]]) == r["hs"]
        assert spark_xxhash64([r["s"], ("int", r["i"])]) == r["hsi"]
        assert spark_xxhash64([r["l"]]) == r["hl"]
        assert spark_xxhash64([r["l"], r["l"], ("int", r["i"])]) == r["hlli"]


def test_xxh64_batch_matches_scalar():
    """The length-grouped vectorized hash equals the scalar reference on
    random byte strings across every structural regime (empty, tail-only,
    4-byte, 8-byte, and the >= 32-byte four-lane path)."""
    import numpy as np

    from dq_true_north_spark.textquality.xxh import xxh64_batch, xxh64_bytes

    rng = np.random.default_rng(3)
    items = [bytes(rng.integers(0, 256, int(n)))
             for n in list(range(0, 40)) + list(rng.integers(0, 90, 500))]
    batch = xxh64_batch(items, 42)
    scalar = np.array([xxh64_bytes(b, 42) for b in items], dtype=np.uint64)
    assert np.array_equal(batch, scalar)


def test_minhash_signature_is_not_degenerate(spark):
    """Regression for the round-5 catch: `lambda s, i=i:` in F.transform is
    the (element, index) form — the captured perm index silently became
    the ARRAY index and all 64 permutations collapsed to one expression.
    A healthy signature has (near-)64 distinct values per doc."""
    from dq_true_north_spark.textquality.dedup import with_minhash

    df = spark.createDataFrame(
        [("d1", "the quick brown fox jumps over the lazy dog again")],
        "url string, text string")
    sig = with_minhash(df).first()["minhash"]
    assert len(sig) == 64
    assert len(set(sig)) > 32, f"degenerate signature: {len(set(sig))} distinct"


def test_minhash_numpy_kernel_matches_jvm(spark):
    """Round-6 optimization pin: with_minhash now hashes each shingle ONCE
    on the JVM and derives all 64 permutation hashes in a vectorized numpy
    fold (dedup.py::_xxh64_int_with_seed) via the chained-seed identity
    xxhash64(s, i) == hashInt(i, seed=xxhash64(s)). This test re-runs the
    previous ALL-JVM reduce/zip_with fold as the reference and asserts
    bit-identical signatures per document, including the empty/short-doc
    all-NULL rows."""
    import pyspark.sql.functions as F

    from dq_true_north_spark import constants as C
    from dq_true_north_spark.corpus import pages_df
    from dq_true_north_spark.textquality.dedup import shingle_col, with_minhash

    n_perms = C.MINHASH_PERMS
    pages = pages_df(spark, 200).select("url", "text")
    extra = spark.createDataFrame(
        [("u-empty", ""), ("u-short", "one two"), ("u-3w", "one two three")],
        "url string, text string",
    )
    df = pages.unionByName(extra)
    ref = df.withColumn("shingles", shingle_col("text")).withColumn(
        "minhash_ref",
        F.expr(
            f"""CASE WHEN size(shingles) = 0
                 THEN array_repeat(CAST(NULL AS BIGINT), {n_perms})
                 ELSE reduce(shingles,
                      array_repeat(CAST({2**63 - 1} AS BIGINT), {n_perms}),
                      (acc, s) -> zip_with(acc,
                          transform(sequence(0, {n_perms - 1}),
                                    i -> xxhash64(s, i)),
                          (a, h) -> least(a, h)))
            END"""
        ),
    )
    expected = {r["url"]: r["minhash_ref"]
                for r in ref.select("url", "minhash_ref").collect()}
    got = {r["url"]: r["minhash"]
           for r in with_minhash(df).select("url", "minhash").collect()}
    assert got == expected
    assert got["u-empty"] == [None] * n_perms
    assert got["u-short"] == [None] * n_perms


def test_minhash_mirror_equals_spark_pipeline(spark):
    """The scalar/numpy mirror (dedup_mirror.py) reproduces the production
    Spark LSH pipeline EXACTLY on the 2,000-page corpus: candidate pairs
    (ids, orientation, est_jaccard) and the cluster rows both match — this
    is the identity the sf0.01 driver oracles are built on."""
    from dq_true_north_spark.corpus import generate_pages_pdf, pages_df
    from dq_true_north_spark.textquality.dedup import (
        minhash_candidate_pairs,
        star_contract_clusters,
    )
    from dq_true_north_spark.textquality.dedup_mirror import (
        minhash_pairs_mirror,
        near_dup_clusters_mirror,
    )

    pdf = generate_pages_pdf(2_000)
    mirror_pairs = minhash_pairs_mirror(list(pdf["url"]), list(pdf["text"]))
    mirror_clusters = near_dup_clusters_mirror(mirror_pairs)

    pages = pages_df(spark, 2_000)
    sp_pairs_df = minhash_candidate_pairs(pages, id_col="url",
                                          text_col="text")
    sp_pairs = sorted((r["doc_a"], r["doc_b"], r["est_jaccard"])
                      for r in sp_pairs_df.collect())
    assert sp_pairs == mirror_pairs
    sp_clusters = sorted(
        (r["doc"], r["cluster_id"],
         int(r["doc"] == r["cluster_id"]))
        for r in star_contract_clusters(sp_pairs_df).collect())
    assert sp_clusters == mirror_clusters


def test_simhash_mirror_equals_spark_pipeline(spark):
    """The SimHash scalar mirror reproduces the production chunk-bucketed
    pair pipeline exactly on the 2,000-page corpus — signature fold, 16-bit
    chunk buckets, cap, hamming verification."""
    from dq_true_north_spark.corpus import generate_pages_pdf, pages_df
    from dq_true_north_spark.textquality.dedup import (
        simhash_near_pairs,
        with_simhash,
    )
    from dq_true_north_spark.textquality.dedup_mirror import (
        simhash_pairs_mirror,
        simhash_signatures,
    )

    pdf = generate_pages_pdf(2_000)
    pages = pages_df(spark, 2_000)

    # signature-level identity on a sample (cheap, pins the fold itself).
    # Keyed by url, so the class-13 planted duplicate urls (two rows, two
    # texts, one url) are excluded — they'd collide in the dict, not in
    # the pipeline.
    from collections import Counter

    url_counts = Counter(pdf["url"])
    sample = pages.limit(200)
    sp_sig = {r["url"]: r["simhash"]
              for r in with_simhash(sample).select("url", "simhash").collect()}
    mirror_sig = simhash_signatures(list(pdf["text"][:200]))
    for i, u in enumerate(pdf["url"][:200]):
        if url_counts[u] == 1:
            assert sp_sig[u] == int(mirror_sig[i]), u

    sp_pairs = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                      for r in simhash_near_pairs(
                          pages, id_col="url", text_col="text").collect())
    assert sp_pairs == simhash_pairs_mirror(list(pdf["url"]),
                                            list(pdf["text"]))


def test_minhash_mirror_edge_cases_vs_spark(spark):
    """Mirror-vs-Spark on inputs the synthetic corpus never produces:
    docs with no shingles (empty / one- / two-word texts → all-NULL Spark
    signatures, sharing the hash-of-lit(j) band buckets), NBSP (a UNICODE
    space: Java \\s does NOT split on it, and the mirror's explicit ASCII
    class must agree), apostrophes/quotes (VALUES escaping path), and
    exact duplicates. The pair sets must match exactly."""
    from dq_true_north_spark.textquality.dedup import minhash_candidate_pairs
    from dq_true_north_spark.textquality.dedup_mirror import (
        minhash_pairs_mirror,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [
        ("d01", ""),
        ("d02", "one"),
        ("d03", "two words"),
        ("d04", "also two"),                       # second no-shingle doc
        ("d05", base),
        ("d06", base),                             # exact dup of d05
        ("d07", base + " today"),                  # near dup
        ("d08", "it's a \"quoted\" o'clock affair don't you think so sir"),
        ("d09", "it's a \"quoted\" o'clock affair don't you think so sir"),
        ("d10", "nbsp glued words stay one token here right now ok"),
        ("d11", "nbsp glued words stay one token here right now ok"),
        ("d12", "tab\tsplit\nand newline words make shingles too you know"),
        # no-shingle docs AFTER non-empty ones: a placeholder reduceat
        # start here corrupted d12's signature segment (the round-5
        # review catch) — keep these LAST
        ("d13", ""),
        ("d14", "trailing two"),
    ]
    df = spark.createDataFrame(docs, "url string, text string")
    sp = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_candidate_pairs(df, id_col="url",
                                         text_col="text").collect()
    )
    mirror = minhash_pairs_mirror([d for d, _ in docs],
                                  [t for _, t in docs])
    assert sp == mirror
    # the planted relations actually surfaced (not a vacuous equality)
    pair_ids = {(a, b) for a, b, _ in mirror}
    assert ("d05", "d06") in pair_ids
    assert ("d08", "d09") in pair_ids
    assert ("d10", "d11") in pair_ids


def test_ann_lsh_mirror_equals_spark(spark):
    """The sequential-fold LSH mirror reproduces production ann_lsh_topk
    EXACTLY (buckets, candidate sets, ranking, round4 display) — the
    identity the sf0.01 driver oracle is built on. np.cumsum is the same
    left-associative fold as the SQL aggregate, so floats match
    bit-for-bit."""
    import duckdb

    from dq_true_north_spark.textquality.similarity_mirror import (
        ann_lsh_topk_mirror,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    mirror = sorted(
        (q, rk, n, c) for q, n, rk, c in ann_lsh_topk_mirror(
            ids, [r[1] for r in rows], 64,
            {i for i in ids if i % 100 == 0}, n_planes=4, n_tables=8)
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sp = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in ann_lsh_topk(emb, dim=64, query_filter="vec_id % 100 = 0",
                              n_planes=4, n_tables=8).collect()
    )
    assert sp == mirror


# ------------------------------------------- LSH bucket join build side ----

LSH_PAGES = 500


@pytest.fixture(scope="module")
def lsh_mirror_pairs():
    from dq_true_north_spark.corpus import generate_pages_pdf
    from dq_true_north_spark.textquality.dedup_mirror import (
        minhash_pairs_mirror,
        simhash_pairs_mirror,
    )

    pdf = generate_pages_pdf(LSH_PAGES)
    urls, texts = list(pdf["url"]), list(pdf["text"])
    return {"minhash": minhash_pairs_mirror(urls, texts),
            "simhash": simhash_pairs_mirror(urls, texts)}


def _lsh(algo):
    """(pairs function, its bucket report, its score column)."""
    from dq_true_north_spark.textquality import dedup

    return {
        "minhash": (dedup.minhash_candidate_pairs, dedup.minhash_bucket_report,
                    "est_jaccard"),
        "simhash": (dedup.simhash_near_pairs, dedup.simhash_bucket_report,
                    "hamming"),
    }[algo]


def _formatted_plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def _broadcast_inputs(plan: str) -> list[list[str]]:
    """The input columns of every BroadcastExchange in a formatted plan."""
    return [
        [c.split("#")[0] for c in m.group(1).split(", ")]
        for m in re.finditer(r"\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]",
                             plan)
    ]


@pytest.mark.parametrize("algo", ["minhash", "simhash"])
def test_lsh_bucket_join_builds_on_survivor_keys(spark, lsh_mirror_pairs, algo):
    """The bucket join's build side is the survivor keys, chosen from their
    measured count, never the member rows that carry the signatures.

    At the session's threshold, and at a threshold of exactly the keys'
    broadcast size (count × _KEY_BYTES, the count read independently from
    the bucket report), the keys are the only broadcast. One byte below it
    nothing is broadcast: the join sort-merges. Under every threshold and
    at partitionings 1, 4 and 13 the pairs equal the scalar mirror's."""
    from dq_true_north_spark.textquality.dedup import _KEY_BYTES

    pairs_of, report_of, score = _lsh(algo)
    rep = report_of(pages_df(spark, LSH_PAGES, partitions=4)).first()
    keys_bytes = (rep["n_multi"] - rep["n_capped"]) * _KEY_BYTES
    assert keys_bytes > 0
    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    runs = [(saved, True, p) for p in (1, 4, 13)] + [(str(keys_bytes), True, 4)]
    runs += [(str(keys_bytes - 1), False, p) for p in (1, 4, 13)]
    try:
        for limit, broadcast, parts in runs:
            spark.conf.set(conf, limit)
            pairs = pairs_of(pages_df(spark, LSH_PAGES, partitions=parts))
            got = sorted((r["doc_a"], r["doc_b"], r[score]) for r in pairs.collect())
            assert got == lsh_mirror_pairs[algo], (limit, parts)
            plan = _formatted_plan(pairs)
            inputs = _broadcast_inputs(plan)
            if broadcast:
                assert inputs, (limit, parts)
                assert all(cols == ["band_idx", "band_hash"] for cols in inputs), inputs
            else:
                assert inputs == [], inputs
                assert "SortMergeJoin" in plan
    finally:
        spark.conf.set(conf, saved)


@pytest.mark.parametrize("algo", ["minhash", "simhash"])
def test_lsh_plan_building_py4j_budget(spark, py4j_calls, algo):
    """The LSH plan is parsed from SQL text: a call (its census job
    included) makes at most 100 driver-to-JVM round trips, where the
    Column-DSL build made ~520. The least of three calls is taken, since
    py4j's collection of earlier objects' JVM references shares the
    connection."""
    pairs_of = _lsh(algo)[0]
    pages = pages_df(spark, 400, partitions=4)
    pairs_of(pages)   # first use resolves JVM classes and the fold UDF
    calls = min(py4j_calls(lambda: pairs_of(pages)) for _ in range(3))
    assert calls <= 100, calls
