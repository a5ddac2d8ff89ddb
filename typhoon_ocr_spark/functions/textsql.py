"""Shared regex patterns + DuckDB SQL snippets for the corpus operators.

Every corpus operator (dedup, similarity, text analysis) is defined
twice — once as a PySpark DataFrame builder (operators/*.py) and once
as ANSI-ish SQL for the DuckDB oracle (__spark_entry__.oracle_sql).
The patterns and constants here are the single source of truth both
sides read, so the two definitions cannot drift silently.

Determinism-across-engines rules used throughout:
- hashes are md5 hex strings (lowercase in both engines); minima are
  lexicographic string minima — no integer hash conversions;
- float outputs are avoided or pre-rounded and cast to BIGINT;
- ties are always broken by an id column.

Spark SQL texts built from these constants (the operators' selectExpr
/ F.expr projections) quote every string constant with ``sql_string``.
"""


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal, for SQL texts built from
    constants. A backslash reads differently under
    ``spark.sql.parser.escapedStringLiterals`` and a quote ends or
    escapes the literal, so a value holding either raises ValueError:
    such a constant stays a Column literal (``F.lit``, a pattern
    argument), which no parser reads."""
    if "\\" in value or "'" in value or '"' in value:
        raise ValueError(f"not a plain SQL string literal: {value!r}")
    return f"'{value}'"


# Word tokens: lowercase alnum runs (ASCII); empties filtered.
WORD_SPLIT_PATTERN = "[^a-z0-9]+"

# Whitespace tokenization.
WS_SPLIT_PATTERN = r"\s+"

# BPE-ish token pattern: letter runs | digit runs | single other symbol.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Simple punctuation class for quality scoring.
PUNCT_CLASS = "[.,;:!?]"

# Thai codepoint block (language-ID heuristic).
THAI_NEGATED_CLASS = "[^฀-๿]"

# Stopwords for the quality score (tiny, frozen list).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# MinHash configuration: 8 permutations -> 2 bands of 4 rows.
# Signatures are SLICES of one md5 per shingle (4 hex chars each, so
# 8 x 4 = the full 32-hex digest): one hash call per shingle instead
# of one per (shingle, permutation) — the "one permutation hashing"
# family. 16-bit signature space is plenty for per-document minima.
MINHASH_PERMS = 8
MINHASH_BANDS = 2
MINHASH_SLICE_HEX = 4  # hex chars per signature slice
SHINGLE_WORDS = 3
# LSH pair generation drops degenerate buckets larger than this: a
# 10k-member band bucket is one dup-cluster, not 10^8 useful pairs,
# and the pair fan-out is quadratic in bucket size. Mirrored in the
# DuckDB oracle so both engines see identical pair sets.
MINHASH_MAX_BUCKET = 64

# SimHash: 16 bits from md5 hex-digit parity votes. Near-dup blocking
# is pigeonhole multi-segment: the fingerprint splits into
# SIMHASH_SEGMENTS contiguous segments; any pair within
# SIMHASH_MAX_HAMMING (<= SIMHASH_SEGMENTS - 1) differing bits shares
# at least one exact segment, so bucketing by each segment has FULL
# recall (unlike prefix blocking) and bounded buckets.
SIMHASH_BITS = 16
SIMHASH_HEX_HIGH = "89abcdef"  # hex digits whose top bit is 1
SIMHASH_SEGMENTS = 3
SIMHASH_MAX_HAMMING = 2
SIMHASH_MAX_BUCKET = 512


def simhash_segment_bounds() -> list:
    """(start_1based, length) of each pigeonhole segment — first
    segments absorb the remainder so sizes differ by at most 1."""
    base, rem = divmod(SIMHASH_BITS, SIMHASH_SEGMENTS)
    bounds = []
    start = 1
    for s in range(SIMHASH_SEGMENTS):
        length = base + (1 if s < rem else 0)
        bounds.append((start, length))
        start += length
    return bounds

# Character shingle width for document fingerprinting.
FINGERPRINT_NGRAM = 8

# Line / paragraph segmentation for the Gopher/C4-style repetition and
# quality filters (regex on BOTH sides: Spark split() and DuckDB
# string_split_regex interpret these identically).
LINE_SPLIT_PATTERN = r"\n"
PARA_SPLIT_PATTERN = r"\n\s*\n"

# Gopher-style quality-gate thresholds (Rae et al. 2021, table A1
# flavor; exact values frozen here as the oracle contract).
# mean word length must sit in [3, 10] chars (stored as centi-chars).
GOPHER_MIN_MEAN_WORD_LEN_CENTI = 300
GOPHER_MAX_MEAN_WORD_LEN_CENTI = 1000
GOPHER_MAX_ELLIPSIS_LINE_PM = 300   # <=30% of lines end in an ellipsis
GOPHER_MAX_BULLET_LINE_PM = 900     # <=90% of lines start with a bullet
GOPHER_MIN_ALPHA_WORD_PM = 600      # >=60% of words contain a letter
ALPHA_WORD_CLASS = "[A-Za-z]"       # "word contains a letter" predicate
GOPHER_MAX_DUP_LINE_PM = 300        # <=30% duplicate lines
GOPHER_MAX_DUP_LINE_CHAR_PM = 200   # <=20% of chars in duplicate lines
BULLET_PREFIXES = ("-", "*", "•")
ELLIPSIS_SUFFIXES = ("...", "…")

# PII scrubbing patterns (training-data hygiene stage). Java-regex and
# RE2 compatible: no lookaround, ASCII \d, \b supported by both. The
# phone pattern is deliberately a FIXED well-defined shape — the
# operator contract is deterministic cross-engine scrubbing; widen per
# deployment.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\+\d{1,2} \d{3}-\d{3}-\d{4}"
PII_IP_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_REPLACEMENTS = (
    (PII_EMAIL_PATTERN, "<EMAIL>"),
    (PII_IP_PATTERN, "<IP>"),
    (PII_PHONE_PATTERN, "<PHONE>"),
)

# URL splitter: (1) scheme, (2) host[:port], (3) path, (4) ?query,
# (5) #fragment. Java-regex and RE2 compatible (no lookaround), shared
# by operators/weburl.py and the DuckDB oracle twins.
URL_PARTS_PATTERN = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"

# ANN configuration.
ANN_QUERY_EVERY = 100  # vec_id % EVERY == 0 are the query vectors
ANN_TOP_K = 5


def duck_word_tokens(col: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({col}), '{WORD_SPLIT_PATTERN}'), "
        "x -> x <> '')"
    )


def duck_shingles(tokens: str) -> str:
    """3-word shingles; DuckDB lists are 1-based."""
    k = SHINGLE_WORDS
    parts = " || ' ' || ".join(f"{tokens}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tokens}) >= {k} THEN "
        f"list_transform(generate_series(1, len({tokens}) - {k - 1}), i -> {parts}) "
        "ELSE [] END"
    )


def duck_minhash_sig(hashes: str, perm: int) -> str:
    """Signature = min over the perm-th 4-hex slice of each shingle's
    md5 (``hashes`` is a list of 32-hex digests)."""
    start = perm * MINHASH_SLICE_HEX + 1
    return (
        f"list_min(list_transform({hashes}, "
        f"x -> substring(x, {start}, {MINHASH_SLICE_HEX})))"
    )


# Hashed linear quality model (the fasttext-style model-based filter
# every modern corpus pipeline runs, e.g. DCLM/FineWeb-Edu): tokens
# hash into MODEL_BUCKETS buckets; each bucket carries a weight from a
# table small enough to BROADCAST (here a deterministic placeholder —
# a trained model drops in as the same array). Pure integer generation
# so the Spark literal array and the DuckDB array literal are
# bit-identical.
MODEL_BUCKETS = 1024


def model_weights_pm() -> list:
    """Deterministic per-bucket weights in per-mille units [-1000,
    1000] (Knuth multiplicative hash of the bucket id). INTEGER on
    purpose: the document score sums these exactly — no FP summation
    order can differ between the engine and the oracle, so round-half
    boundaries are deterministic."""
    return [
        (b * 2654435761) % 2001 - 1000
        for b in range(MODEL_BUCKETS)
    ]
