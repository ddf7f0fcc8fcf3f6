"""Property-based checks (hypothesis) over the supported input domain:
printable text with ASCII whitespace, plus the corpus's diacritics/CJK.

These harden the three-way parity (Spark SQL expr / DuckDB RE2 / Python
golden) beyond the planted corpus: random adversarial strings from the
domain must agree everywhere, and scrub must be idempotent on anything.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from dq_true_north_spark import queries as Q
from dq_true_north_spark.textquality import spec
from dq_true_north_spark.textquality.scrub import scrub_sql_expr, scrub_text
from tests.golden import heuristic_reasons

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " \t\n.,;:!?#…-*•()@+/'\"éèüßñçàの的一是"
)
texts = st.text(alphabet=ALPHABET, min_size=0, max_size=400)


_DUCK = duckdb.connect()


@settings(max_examples=300, deadline=None)
@given(texts)
def test_scrub_idempotent_on_domain(t):
    once = scrub_text(t)
    assert scrub_text(once) == once


@settings(max_examples=150, deadline=None)
@given(st.lists(texts, min_size=1, max_size=8))
def test_duckdb_metrics_match_python_golden(batch):
    """DuckDB rendering of every predicate over spec's staged projection ==
    independent Python implementation (golden). The Spark rendering is
    held to the same golden by tests/test_pipeline.py and pinned to DuckDB
    by tests/test_oracle_parity.py on real tables, closing the triangle."""
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(i INT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(batch)))
    preds = spec.heuristic_drop_predicates(spec.DUCK, "text")
    cols = ", ".join(f"CAST(({p}) AS INT) AS {r}" for r, p in preds)
    src = spec.staged(spec.DUCK, "docs", ["i"])
    rows = con.execute(f"SELECT i, {cols} FROM {src} ORDER BY i").fetchall()
    for row, text in zip(rows, batch):
        duck_reasons = [
            r for (r, _), hit in zip(preds, row[1:]) if hit == 1
        ]
        assert duck_reasons == heuristic_reasons(text), repr(text)


@settings(max_examples=150, deadline=None)
@given(texts)
def test_duckdb_scrub_matches_python(t):
    out = _DUCK.execute(
        f"SELECT {scrub_sql_expr(False, 'col0')} FROM (SELECT ? AS col0)", [t]
    ).fetchone()[0]
    assert out == scrub_text(t), repr(t)


_BPE_RE = None


def _py_bpe_tokens(t: str) -> list[str]:
    global _BPE_RE
    if _BPE_RE is None:
        import re

        from dq_true_north_spark import constants as C

        _BPE_RE = re.compile(C.BPE_TOKEN_PATTERN)
    return _BPE_RE.findall(t)


# chunking tests get an alphabet that ADDS the engine-divergence probes:
# \x0b (vertical tab — inside Java \s, outside RE2 \s; the round-5
# explicit-ASCII-class fix) and \x0c. Kept out of the shared ALPHABET:
# the scrub/heuristic contracts pin Java-\s semantics that RE2 cannot
# express for \x0b, and their domain note requires normalized input.
chunk_texts = st.text(alphabet=ALPHABET + "\x0b\x0c", min_size=0,
                      max_size=400)


@settings(max_examples=200, deadline=None)
@given(chunk_texts)
def test_bpe_pattern_tiles_the_text(t):
    """The foundation of token-aware chunking: the BPE-ish pattern tiles
    its input — concatenating the findall tokens reconstructs the text
    byte-for-byte, so an array slice can never split a token."""
    assert "".join(_py_bpe_tokens(t)) == t


@settings(max_examples=100, deadline=None)
@given(chunk_texts)
def test_token_chunks_never_split_tokens(t):
    """doc_chunks_tokens contract, checked through the DuckDB rendering of
    the shared template against the Python tokenizer: every chunk is
    exactly the joined contiguous token slice [i*80, i*80+100), the chunk
    set covers all tokens, and each chunk_text re-tokenizes to that very
    slice (boundaries are token boundaries — nothing split)."""
    toks = _py_bpe_tokens(t)
    esc = t.replace("'", "''")
    _DUCK.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT 1 AS doc_id, '{esc}' AS text"
    )
    rows = _DUCK.execute(
        Q._REGISTRY["doc_chunks_tokens"]["oracle"]
    ).fetchall()
    rows.sort(key=lambda r: r[1])
    n_expected = 1 + max(-(-max(len(toks) - 100, 0) // 80), 0)
    assert len(rows) == n_expected
    for _, idx, chunk_text, chunk_tokens in rows:
        piece = toks[idx * 80: idx * 80 + 100]
        assert chunk_text == "".join(piece)
        assert chunk_tokens == len(piece)
        if chunk_text:
            assert _py_bpe_tokens(chunk_text) == piece
    # coverage: stride-80 starts reach every token index
    covered = set()
    for _, idx, _, n in rows:
        covered.update(range(idx * 80, idx * 80 + n))
    assert covered == set(range(len(toks)))
