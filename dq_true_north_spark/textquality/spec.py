"""Dual-dialect expression spec for the Gopher/C4-style heuristic metrics.

Every per-document metric and drop predicate is defined ONCE here, over one
staged projection (`staged`/`hoisted`), and rendered into two SQL dialects:
Spark SQL (run by compute_verdicts and the doc_* queries — whole-stage
codegen, no Python in the hot path) and DuckDB SQL (the correctness oracle
the driver runs side-by-side). tests/golden.py re-implements the rules in
plain Python over the same constants module, as the independent reference.

Reference analog: the reference evaluates per-column checks one scan per
column (dq_rules_library.py:675-699); here every metric is a column in ONE
wide select, so the 100 TB corpus is scanned exactly once.

The dialect primitives (types, dates, quoting, JSON) also serve the rule
renderers in rules/.
"""

from __future__ import annotations

from .. import constants as C

SPARK, DUCK = "spark", "duck"

# Cross-engine regex caveat (documented contract): `\s` is ASCII-only in
# Java regex and RE2 but Unicode-aware in Python `re`. The frozen spec
# therefore defines a "word" over ASCII whitespace only, and the supported
# input domain is printable text whose whitespace is ASCII (true for
# extracted web text after normalization — and enforced by the property
# tests in tests/test_properties.py over that alphabet). Unicode whitespace
# (NBSP etc.) must be normalized upstream of the filter.


def _rx(dialect: str, pattern: str) -> str:
    """Render a regex as a string literal for the dialect.

    Spark SQL string literals are backslash-escaped; DuckDB's are not.
    """
    if dialect == SPARK:
        return "'" + pattern.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "'" + pattern.replace("'", "''") + "'"


def rx_count(dialect: str, expr: str, pattern: str) -> str:
    p = _rx(dialect, pattern)
    if dialect == SPARK:
        return f"regexp_count({expr}, {p})"
    return f"len(regexp_extract_all({expr}, {p}))"


def size(dialect: str, arr: str) -> str:
    return f"size({arr})" if dialect == SPARK else f"len({arr})"


def words(dialect: str, expr: str) -> str:
    """Array of non-empty whitespace-separated tokens."""
    p = _rx(dialect, r"\s+")
    if dialect == SPARK:
        return f"filter(split({expr}, {p}), w -> w <> '')"
    return f"list_filter(regexp_split_to_array({expr}, {p}), w -> w <> '')"


def lines(dialect: str, expr: str) -> str:
    if dialect == SPARK:
        return f"split({expr}, '\\n')"
    return f"string_split({expr}, chr(10))"


def arr_filter(dialect: str, arr: str, lam: str) -> str:
    fn = "filter" if dialect == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def arr_distinct(dialect: str, arr: str) -> str:
    fn = "array_distinct" if dialect == SPARK else "list_distinct"
    return f"{fn}({arr})"


def str_t(d: str) -> str:
    return "STRING" if d == SPARK else "VARCHAR"


def date_sub(d: str, col: str, n: str | int) -> str:
    if d == SPARK:
        return f"date_sub({col}, {n})"
    return f"({col} - INTERVAL ({n}) DAY)"


def ident(d: str, name: str) -> str:
    """A quoted identifier. Catalog params are outside input: a column or
    table name is quoted (its quote character doubled), never spliced."""
    q = "`" if d == SPARK else '"'
    return q + name.replace(q, q + q) + q


def table(d: str, name: str) -> str:
    """A quoted, possibly qualified table name (`db.t` quotes each part, as
    ``spark.table`` reads it)."""
    return ".".join(ident(d, part) for part in name.split("."))


def lit(d: str, s: str) -> str:
    """A string literal. Both dialects read a doubled quote as a quote;
    Spark also reads backslash escapes, so its backslashes are doubled."""
    if d == SPARK:
        s = s.replace("\\", "\\\\")
    return "'" + s.replace("'", "''") + "'"


def to_json(d: str, expr: str) -> str:
    """JSON text of a struct. Spark's to_json omits NULL fields; DuckDB's
    keeps them, so its rendering drops them with an RFC 7396 merge patch."""
    if d == SPARK:
        return f"to_json({expr})"
    return f"json_merge_patch('{{}}', to_json({expr}))"


def json_cols(d: str, cols) -> str:
    """JSON object of the named columns ('{}' for none), keyed by name."""
    if not cols:
        return "'{}'"
    if d == SPARK:
        return to_json(d, f"struct({', '.join(ident(d, c) for c in cols)})")
    return to_json(d, "struct_pack(" + ", ".join(
        f"{ident(d, c)} := {ident(d, c)}" for c in cols) + ")")


def round4(expr: str, n: int = 4) -> str:
    """Deterministic cross-engine rounding: floor(x*10^n + 0.5)/10^n.

    Spark's round() (BigDecimal HALF_UP on the exact binary value),
    DuckDB's round(), and Python's round() (half-even) disagree at decimal
    half-boundaries — ratios of 2-decimal inputs hit them for real
    (46.71/1.6 = 29.19375 rounded to .1937 by Spark, .1938 by DuckDB at
    sf0.1). floor/multiply/add are individually-exact IEEE ops, so this
    rendering is bit-identical across Spark SQL, DuckDB and CPython by
    construction (half-toward-+inf convention). tests/golden.py mirrors it
    as _r4."""
    return f"(floor(({expr}) * 1e{n} + 0.5) / 1e{n})"


def round4_col(col, n: int = 4):
    """Column-side rendering of the SAME frozen formula as round4 above —
    the single definition for DataFrame-API call sites (rules, df queries),
    so a future change to the rounding spec edits round4/round4_col/_r4
    together instead of hunting inlined copies."""
    from pyspark.sql import functions as F

    return F.floor(col * float(10**n) + F.lit(0.5)) / float(10**n)


def round4_signed(expr: str, n: int = 4) -> str:
    """Half-AWAY-FROM-ZERO variant for display columns that carry sign
    (spike/dip percent_change, signed metrics): plain floor-round4 rounds
    NEGATIVE half-boundaries toward +inf (-0.00005 -> 0.0), losing the
    sign (ADVICE r3 #3). sign(x)·floor(|x|·10^n + 0.5)/10^n keeps the
    magnitude rule symmetric around zero and stays bit-identical across
    Spark SQL / DuckDB / CPython for the same IEEE reasons as round4
    (sign/abs/floor are exact; the sign·floor product is an exact
    integer-valued double). For x >= 0 it equals round4 exactly, so it is
    safe to apply uniformly to a mixed-sign column. Convention: round4
    (half-toward-+inf) remains the default for NON-NEGATIVE quantities
    (ratios, fractions, stddevs); sign-carrying display columns use this."""
    return f"(sign({expr}) * floor(abs({expr}) * 1e{n} + 0.5) / 1e{n})"


def word_ngrams(d: str, words_expr: str, n: int) -> str:
    """Word n-gram array, SAFE for documents with fewer than n words.

    Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not an empty array),
    and slice(arr, 0, n) then throws INVALID_PARAMETER_VALUE.START — so the
    unguarded `sequence(1, greatest(len-n+1, 0))` construction crashes the
    whole job on any 0..n-1-word document (real crawls always contain
    some). DuckDB's generate_series(1, 0) is empty, hiding the divergence.
    Guard with CASE in BOTH dialects so the renderings stay symmetric."""
    if d == SPARK:
        gen = (f"transform(sequence(1, size({words_expr}) - {n - 1}), "
               f"i -> concat_ws(' ', slice({words_expr}, i, {n})))")
        return (f"CASE WHEN size({words_expr}) >= {n} THEN {gen} "
                f"ELSE array() END")
    gen = (f"list_transform(generate_series(1, len({words_expr}) - {n - 1}), "
           f"i -> array_to_string(list_slice({words_expr}, i, i + {n - 1}), ' '))")
    return f"CASE WHEN len({words_expr}) >= {n} THEN {gen} ELSE [] END"


# --------------------------------------------------------------- metrics ---
# Each metric is a function (dialect, text_col) -> SQL expression, rendered
# over a row that also carries the two arrays `hoisted` adds: the lowered
# words (WORDS) and the non-empty lines (LINES). The higher-order functions
# that build the arrays escape whole-stage codegen's subexpression
# elimination, so a predicate building its own would derive them again per
# predicate; read from one staged projection they are derived once per row.
# Spark keeps the staging: CollapseProject does not inline a non-cheap
# expression that is referenced more than once.
#
# The word count is the size of WORDS: splitting on \s+ and dropping the
# empty pieces enumerates exactly the \S+ runs, and lower() never alters
# whitespace. The character, symbol, alpha-word and BPE counts stay regex
# passes over the raw text (lower() can change a string's length on some
# code points).

WORDS, LINES = "_h_words", "_h_nl"


def hoisted(d: str, t: str) -> list[str]:
    """Select items for the two arrays every metric below reads."""
    nonempty = arr_filter(d, lines(d, t), "l -> l <> ''")
    return [f"{words(d, f'lower({t})')} AS {WORDS}", f"{nonempty} AS {LINES}"]


def staged(d: str, source: str, cols: list[str]) -> str:
    """A FROM item: `source`'s `cols` and `text` column, plus the hoisted
    arrays the metrics read."""
    items = ", ".join([*cols, "text", *hoisted(d, "text")])
    return f"(SELECT {items} FROM {source}) staged"


def n_words(d: str, t: str) -> str:
    return size(d, WORDS)


def n_word_chars(d: str, t: str) -> str:
    # total characters inside words = doc length minus whitespace
    p = _rx(d, r"\s")
    gflag = ", 'g'" if d == DUCK else ""  # DuckDB replaces first match only by default
    return f"length(regexp_replace({t}, {p}, ''{gflag}))"


def mean_word_len(d: str, t: str) -> str:
    return round4(
        f"CAST({n_word_chars(d, t)} AS DOUBLE) / nullif({n_words(d, t)}, 0)"
    )


def symbol_word_ratio(d: str, t: str) -> str:
    sym = rx_count(d, t, r"[#…]")
    return round4(f"CAST({sym} AS DOUBLE) / nullif({n_words(d, t)}, 0)")


def _stopwords(d: str) -> str:
    """The stop words among WORDS, kept by `IN` over the literal list, which
    Spark optimizes to a hash-set lookup (INSET) where array_contains would
    scan all 50 literals per word."""
    stops = ", ".join(lit(d, w) for w in C.STOPWORDS)
    return arr_filter(d, WORDS, f"w -> w IN ({stops})")


def stopword_count(d: str, t: str) -> str:
    return size(d, _stopwords(d))


def stopword_fraction(d: str, t: str) -> str:
    return round4(
        f"CAST({stopword_count(d, t)} AS DOUBLE) / nullif({n_words(d, t)}, 0)"
    )


def distinct_stopwords(d: str, t: str) -> str:
    return size(d, arr_distinct(d, _stopwords(d)))


def alpha_word_count(d: str, t: str) -> str:
    # words containing at least one ASCII letter (non-overlapping \S-runs)
    return rx_count(d, t, r"[^\s]*[A-Za-z][^\s]*")


def non_alpha_word_fraction(d: str, t: str) -> str:
    return round4(
        f"CAST({n_words(d, t)} - {alpha_word_count(d, t)} AS DOUBLE) / "
        f"nullif({n_words(d, t)}, 0)"
    )


def _line_fraction(d: str, pred: str) -> str:
    hit = arr_filter(d, LINES, f"l -> {pred}")
    return round4(f"CAST({size(d, hit)} AS DOUBLE) / nullif({size(d, LINES)}, 0)")


def ellipsis_line_fraction(d: str, t: str) -> str:
    return _line_fraction(d, "l LIKE '%...'")


def bullet_line_fraction(d: str, t: str) -> str:
    return _line_fraction(d, "l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'")


def dup_line_fraction(d: str, t: str) -> str:
    return round4(
        f"1.0 - CAST({size(d, arr_distinct(d, LINES))} AS DOUBLE) / "
        f"nullif({size(d, LINES)}, 0)"
    )


def bpe_token_count(d: str, t: str) -> str:
    return rx_count(d, t, C.BPE_TOKEN_PATTERN)


def bpe_tokens(d: str, t: str) -> str:
    """Array of BPE-ish tokens. The pattern TILES the input — every
    character belongs to exactly one token (whitespace runs are tokens
    too), so concatenating the array with '' reconstructs the text
    byte-for-byte. Token-aware chunking (doc_chunks_tokens) relies on
    exactly this: slicing the array can never split a token, and joining
    a slice yields a true substring of the original. Spark's
    regexp_extract_all defaults to capture group 1 (the pattern contains a
    non-capturing group), so group 0 is passed explicitly."""
    p = _rx(d, C.BPE_TOKEN_PATTERN)
    if d == SPARK:
        return f"regexp_extract_all({t}, {p}, 0)"
    return f"regexp_extract_all({t}, {p})"


# ------------------------------------------------- drop-reason predicates ---
# (reason_code, predicate-SQL builder). Order is C.DROP_REASON_ORDER minus the
# UDF-backed reasons (lang-confidence, perplexity) which join in later.

def heuristic_drop_predicates(d: str, t: str) -> list[tuple[str, str]]:
    return [
        (C.REASON_TOO_SHORT, f"{n_words(d, t)} < {C.MIN_WORDS}"),
        (C.REASON_TOO_LONG, f"{n_words(d, t)} > {C.MAX_WORDS}"),
        (
            C.REASON_MEAN_WORD_LEN,
            f"({mean_word_len(d, t)} < {C.MIN_MEAN_WORD_LEN} OR "
            f"{mean_word_len(d, t)} > {C.MAX_MEAN_WORD_LEN})",
        ),
        (C.REASON_SYMBOL_RATIO, f"{symbol_word_ratio(d, t)} > {C.MAX_SYMBOL_WORD_RATIO}"),
        (
            C.REASON_STOPWORDS,
            f"({stopword_fraction(d, t)} < {C.MIN_STOPWORD_FRACTION} OR "
            f"{distinct_stopwords(d, t)} < {C.MIN_DISTINCT_STOPWORDS})",
        ),
        (C.REASON_NON_ALPHA, f"{non_alpha_word_fraction(d, t)} > {C.MAX_NON_ALPHA_WORD_FRACTION}"),
        (C.REASON_ELLIPSIS, f"coalesce({ellipsis_line_fraction(d, t)}, 0.0) > {C.MAX_ELLIPSIS_LINE_FRACTION}"),
        (C.REASON_BULLET, f"coalesce({bullet_line_fraction(d, t)}, 0.0) > {C.MAX_BULLET_LINE_FRACTION}"),
        (C.REASON_DUP_LINES, f"coalesce({dup_line_fraction(d, t)}, 0.0) > {C.MAX_DUP_LINE_FRACTION}"),
    ]


def drop_flags(d: str, t: str) -> list[str]:
    """One 0/1 select item per heuristic drop reason, named by the reason,
    over the staged row."""
    return [f"CAST(COALESCE(({p}), FALSE) AS INT) AS {r}"
            for r, p in heuristic_drop_predicates(d, t)]


METRICS = {
    "n_words": n_words,
    "n_word_chars": n_word_chars,
    "mean_word_len": mean_word_len,
    "symbol_word_ratio": symbol_word_ratio,
    "stopword_count": stopword_count,
    "stopword_fraction": stopword_fraction,
    "distinct_stopwords": distinct_stopwords,
    "alpha_word_count": alpha_word_count,
    "non_alpha_word_fraction": non_alpha_word_fraction,
    "ellipsis_line_fraction": ellipsis_line_fraction,
    "bullet_line_fraction": bullet_line_fraction,
    "dup_line_fraction": dup_line_fraction,
    "bpe_token_count": bpe_token_count,
}
