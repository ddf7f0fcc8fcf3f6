"""Frozen quality-filter spec — the single source of truth for thresholds,
stopword list, PII patterns, and the toxicity lexicon.

Both the distributed Spark pipeline AND the golden-fixture generator (plain
pandas, tests/golden.py) import THIS module, so keep/drop F1 and byte-exact
scrub parity are structural, not coincidental (SURVEY.md §7 "what's hard" #1-2).

Reference-faithful constants (from chiribauc/dq_true_north):
  ROLLING_WINDOW_DAYS = 60   (dq_rules_library.py:177,832; streamlit.py:1151)
  SPIKE_THRESHOLD     = 0.50 (dq_rules_library.py:538)
  HIST_TOLERANCE      = 0.05 (dq_rules_library.py:831)
  FAIL iff violation count > 0 (dq_rules_library.py:98,263,348,...)
"""

from __future__ import annotations

# ---------------------------------------------------------------- reference
ROLLING_WINDOW_DAYS = 60
SPIKE_THRESHOLD = 0.50
HIST_TOLERANCE = 0.05
HIST_LOOKBACK_DAYS = 60
TREND_DAYS_THRESHOLD = 5
SIGMA_BAND = 3.0

PASS, FAIL, ERROR = "PASS", "FAIL", "ERROR"

# ------------------------------------------------------- Gopher/C4 heuristics
# word = maximal run of non-whitespace (\S+); counted identically in Spark
# (regexp_count), DuckDB (regexp_extract_all) and Python (re.findall).
MIN_WORDS = 15
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_WORD_RATIO = 0.10          # '#' and '…' per word (Gopher)
MIN_STOPWORD_FRACTION = 0.02          # C4-ish
MIN_DISTINCT_STOPWORDS = 2            # Gopher: >=2 distinct stop words
MAX_NON_ALPHA_WORD_FRACTION = 0.20    # Gopher: >=80% words contain a letter
MAX_ELLIPSIS_LINE_FRACTION = 0.30
MAX_BULLET_LINE_FRACTION = 0.90
MAX_DUP_LINE_FRACTION = 0.30          # repeated-line rule (exact-line hashing)
MAX_PERPLEXITY = 1500.0               # char-bigram LM threshold
ALLOWED_LANGS = ("en", "fr", "es", "de", "zh")
LATIN_LANGS = ("en", "fr", "es", "de", "it")  # word-level rules apply
MIN_LANG_CONFIDENCE = 0.90  # calibrated vs langmodel softmax temp 4.0

STOPWORDS = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
    "this", "but", "his", "by", "from", "they", "we", "say", "her", "she",
    "or", "an", "will", "my", "one", "all", "would", "there", "their", "is",
    "was", "are", "been", "has", "had", "were", "can", "said", "who", "its",
)

# drop-reason codes, frozen order (verdict arrays are emitted in this order)
REASON_TOO_SHORT = "too_short"
REASON_TOO_LONG = "too_long"
REASON_MEAN_WORD_LEN = "mean_word_len"
REASON_SYMBOL_RATIO = "symbol_ratio"
REASON_STOPWORDS = "low_stopword_fraction"
REASON_NON_ALPHA = "non_alpha_words"
REASON_ELLIPSIS = "ellipsis_lines"
REASON_BULLET = "bullet_lines"
REASON_DUP_LINES = "dup_lines"
REASON_EXACT_DUP = "exact_duplicate"
REASON_BAD_LANG = "lang_not_allowed"
REASON_LANG_CONF = "low_lang_confidence"
REASON_PERPLEXITY = "high_perplexity"

DROP_REASON_ORDER = (
    REASON_TOO_SHORT, REASON_TOO_LONG, REASON_MEAN_WORD_LEN,
    REASON_SYMBOL_RATIO, REASON_STOPWORDS, REASON_NON_ALPHA,
    REASON_ELLIPSIS, REASON_BULLET, REASON_DUP_LINES, REASON_EXACT_DUP,
    REASON_BAD_LANG, REASON_LANG_CONF, REASON_PERPLEXITY,
)

# ----------------------------------------------------------------- PII scrub
# Patterns are RE2-safe (no backreferences/lookaround) so the same pattern
# string runs under Python `re` (pipeline + golden) and DuckDB RE2 (oracle).
# Replacement is sequential in THIS order; order is part of the frozen spec.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,2}[-. ]\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b|\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)

# placeholder lexicon — in production this is a supplied wordlist; the spec
# here only fixes the MECHANISM (word-boundary, case-insensitive, longest
# pattern first) which is what the tests verify.
TOXICITY_LEXICON = ("badword", "slurterm", "cursemark", "vileword")
TOXICITY_REPLACEMENT = "<TOX>"

# ------------------------------------------------------------ token counting
# BPE-ish tokenizer regex (GPT-2 flavored, lookahead-free so it is valid in
# Java regex, RE2 and Python re alike). Whitespace is an EXPLICIT ASCII
# class, never \s: the three engines disagree on \s membership (Java
# includes \x0B where RE2 does not; Python \s is Unicode-wide), so a \s
# form made doc_chunks_tokens/doc_token_counts diverge between the Spark
# arm and the DuckDB oracle on vertical-tab input (round-5 review catch).
_ASCII_WS = r" \t\n\x0B\f\r"
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    rf"| ?[^A-Za-z0-9{_ASCII_WS}]+|[{_ASCII_WS}]+"
)

# ----------------------------------------------------------------- dedup/LSH
MINHASH_PERMS = 64
MINHASH_BANDS = 16          # 16 bands x 4 rows
MINHASH_SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 64
SIMHASH_HAMMING_MAX = 3
LSH_COSINE_PLANES = 16      # random-hyperplane ANN buckets
COSINE_TOPK = 10

# ------------------------------------------------------------------- corpus
CORPUS_SEED = 42
HOT_HOSTS = ("hot0.example.com", "hot1.example.com")   # planted skew
SALT_BUCKETS = 16
