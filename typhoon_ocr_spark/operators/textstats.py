"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting — the per-document scoring stages of
a training-data pipeline, pure column expressions (JVM-side,
whole-stage-codegen; zero Python in the hot path) except top_bigram,
whose per-document argmax is one functions.udfs.row_map pass.

Cross-engine determinism: ratios are emitted as rounded per-mille
BIGINTs, hashes as md5 hex strings (see functions/textsql.py).

Build cost: projections are Spark SQL texts (``selectExpr`` /
``F.expr``) holding constant literals only — never values read from
the data — with every string constant quoted by
``textsql.sql_string``; the JVM parses each text in one call, where
the same Column expression is built node by node over py4j. Each text
is written to analyze to the plan the Column form gave: doubles carry
``D`` (a bare ``1000.0`` is DECIMAL in Spark SQL) and AND chains are
parenthesized left-deep, as ``&`` builds them. Split patterns that
hold a backslash (line, paragraph, whitespace, PII) stay Column
literals, and so do the expressions built on them.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textsql import (
    ALPHA_WORD_CLASS,
    BPE_TOKEN_PATTERN,
    BULLET_PREFIXES,
    ELLIPSIS_SUFFIXES,
    FINGERPRINT_NGRAM,
    GOPHER_MAX_BULLET_LINE_PM,
    GOPHER_MAX_DUP_LINE_CHAR_PM,
    GOPHER_MAX_DUP_LINE_PM,
    GOPHER_MAX_ELLIPSIS_LINE_PM,
    GOPHER_MAX_MEAN_WORD_LEN_CENTI,
    GOPHER_MIN_ALPHA_WORD_PM,
    GOPHER_MIN_MEAN_WORD_LEN_CENTI,
    LINE_SPLIT_PATTERN,
    PARA_SPLIT_PATTERN,
    PUNCT_CLASS,
    STOPWORDS,
    THAI_NEGATED_CLASS,
    WS_SPLIT_PATTERN,
    sql_string,
)
from ..functions.udfs import row_map
from ..plans.spread import maybe_spread
from .dedup import _raw_tokens, word_tokens


def _per_mille(num: str, den: str) -> str:
    """round(1000 · num / max(den, 1)) as a BIGINT, over SQL texts."""
    return f"CAST(round(1000.0D * ({num}) / greatest({den}, 1)) AS BIGINT)"


def _and(*preds: str) -> str:
    """The conjunction of SQL predicates, left-deep as ``&`` chains
    Columns (the SQL parser would balance a bare AND chain)."""
    return functools.reduce(lambda p, q: f"({p}) AND ({q})", preds)


def _spread_docs(
    documents: DataFrame, text_col: str, extra: dict | None = None
) -> DataFrame:
    """(doc_id, [extra aliases...,] text_col) projection, adaptively
    spread (plans.spread.maybe_spread): every operator below is map-only (or
    map-heavy before its first exchange), so a single-row-group input
    file would serialize it onto one task (r6 measurement: the whole
    textstats family ran single-core at bench scale). ``extra`` maps
    names to SQL texts over the input."""
    cols = [f"{expr} AS {name}" for name, expr in (extra or {}).items()]
    narrow = documents.selectExpr("doc_id", *cols, text_col)
    return maybe_spread(narrow, "doc_id", source=documents)


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-free language ID heuristic: Thai-codepoint density.
    Output: (doc_id, thai_per_mille, pred_lang)."""
    t = text_col
    thai = f"length(regexp_replace({t}, {sql_string(THAI_NEGATED_CLASS)}, ''))"
    per_mille = _per_mille(thai, f"length({t})")
    return _spread_docs(documents, t).selectExpr(
        "doc_id",
        f"{per_mille} AS thai_per_mille",
        f"CASE WHEN {per_mille} >= 100 THEN 'th' ELSE 'en' END AS pred_lang",
    )


def quality_scores(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality gate: length / punctuation / digit / stopword ratios.
    Output: (doc_id, n_chars, n_tokens, punct_per_mille,
    digit_per_mille, stop_per_mille, keep)."""
    t = text_col
    toks = word_tokens(t)
    n_tokens = f"CAST(size({toks}) AS BIGINT)"
    punct = f"length({t}) - length(regexp_replace({t}, {sql_string(PUNCT_CLASS)}, ''))"
    digits = f"length({t}) - length(regexp_replace({t}, '[0-9]', ''))"
    stopwords = ", ".join(map(sql_string, STOPWORDS))
    stops = f"CAST(size(filter({toks}, x -> x IN ({stopwords}))) AS BIGINT)"
    punct_pm = _per_mille(punct, f"length({t})")
    digit_pm = _per_mille(digits, f"length({t})")
    return _spread_docs(documents, t).selectExpr(
        "doc_id",
        f"CAST(length({t}) AS BIGINT) AS n_chars",
        f"{n_tokens} AS n_tokens",
        f"{punct_pm} AS punct_per_mille",
        f"{digit_pm} AS digit_per_mille",
        f"{_per_mille(stops, n_tokens)} AS stop_per_mille",
        _and(f"{n_tokens} >= 5", f"{punct_pm} <= 300", f"{digit_pm} <= 500") + " AS keep",
    )


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs | digit runs | single symbols).
    Output: (doc_id, ws_tokens, bpe_tokens)."""
    text = F.col(text_col)
    ws = F.size(
        F.filter(F.split(text, WS_SPLIT_PATTERN), lambda x: x != F.lit(""))
    ).cast("long")
    bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)).cast("long")
    return _spread_docs(documents, text_col).select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


def _nonempty_lines(text: Column, pattern: str = LINE_SPLIT_PATTERN) -> Column:
    """Trimmed, non-empty segments of ``text`` split on ``pattern``."""
    return F.filter(
        F.transform(F.split(text, pattern), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def _charsum(arr: str) -> str:
    """Total characters across a string array, as a SQL text (0 for
    empty arrays — mirrored by coalesce(...,0) in the DuckDB twin)."""
    return f"aggregate({arr}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics: duplicate-line fraction,
    fraction of characters inside duplicate line occurrences, and
    duplicate-paragraph fraction (paragraphs = blank-line-separated).
    Pure column expressions, map-only — no shuffle, scales linearly.
    Output: (doc_id, n_lines, dup_line_per_mille,
    dup_line_char_per_mille, n_paras, dup_para_per_mille)."""
    text = F.col(text_col)
    # Generate barriers: (1) materialize the two split arrays once,
    # (2) materialize array_distinct once for its two consumers
    # (size + charsum) — the HOF-recompute guard used repo-wide.
    a = _spread_docs(documents, text_col).select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    _nonempty_lines(text).alias("lines"),
                    _nonempty_lines(text, PARA_SPLIT_PATTERN).alias("paras"),
                )
            )
        ).alias("a"),
    )
    b = a.selectExpr(
        "doc_id",
        "explode(array(struct(a.lines AS lines, array_distinct(a.lines) AS dlines, "
        "CAST(size(a.paras) AS BIGINT) AS n_paras, "
        "CAST(size(array_distinct(a.paras)) AS BIGINT) AS n_dparas))) AS b",
    )
    n_lines = "CAST(size(b.lines) AS BIGINT)"
    n_dlines = "CAST(size(b.dlines) AS BIGINT)"
    line_chars = _charsum("b.lines")
    dline_chars = _charsum("b.dlines")
    return b.selectExpr(
        "doc_id",
        f"{n_lines} AS n_lines",
        f"{_per_mille(f'{n_lines} - {n_dlines}', n_lines)} AS dup_line_per_mille",
        f"{_per_mille(f'{line_chars} - {dline_chars}', line_chars)}"
        " AS dup_line_char_per_mille",
        "b.n_paras AS n_paras",
        f"{_per_mille('b.n_paras - b.n_dparas', 'b.n_paras')} AS dup_para_per_mille",
    )


def gopher_quality(
    documents: DataFrame, text_col: str = "text", passthrough: tuple = ()
) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 flavor; thresholds
    frozen in functions/textsql.py): mean word length window,
    ellipsis-line and bullet-line caps, minimum alphabetic-word
    fraction, duplicate-line caps. Map-only column expressions.
    ``passthrough`` ({name: SQL text over the input}) columns ride
    along so composers stay single-scan.
    Output: (doc_id, [passthrough...,] mean_word_len_centi,
    ellipsis_line_per_mille, bullet_line_per_mille,
    alpha_word_per_mille, dup_line_per_mille, dup_line_char_per_mille,
    keep)."""
    passthrough = dict(passthrough or {})
    pass_names = list(passthrough)
    text = F.col(text_col)
    ws = F.filter(F.split(text, WS_SPLIT_PATTERN), lambda x: x != F.lit(""))
    a = _spread_docs(documents, text_col, extra=passthrough).select(
        "doc_id",
        *pass_names,
        F.explode(
            F.array(
                F.struct(
                    F.expr(word_tokens(text_col)).alias("toks"),
                    ws.alias("ws"),
                    _nonempty_lines(text).alias("lines"),
                )
            )
        ).alias("a"),
    )
    b = a.selectExpr(
        "doc_id",
        *pass_names,
        "explode(array(struct(a.toks AS toks, a.ws AS ws, a.lines AS lines, "
        "array_distinct(a.lines) AS dlines))) AS b",
    )
    n_toks = "CAST(size(b.toks) AS BIGINT)"
    n_ws = "CAST(size(b.ws) AS BIGINT)"
    n_lines = "CAST(size(b.lines) AS BIGINT)"
    line_chars = _charsum("b.lines")
    dline_chars = _charsum("b.dlines")
    mean_centi = (
        f"CAST(round(100.0D * {_charsum('b.toks')} / greatest({n_toks}, 1)) AS BIGINT)"
    )
    ends = functools.reduce(
        lambda p, q: f"({p}) OR ({q})",
        [f"endswith(x, {sql_string(s)})" for s in ELLIPSIS_SUFFIXES],
    )
    bullets = ", ".join(map(sql_string, BULLET_PREFIXES))
    ellipsis = f"CAST(size(filter(b.lines, x -> {ends})) AS BIGINT)"
    bullet = f"CAST(size(filter(b.lines, x -> substr(x, 1, 1) IN ({bullets}))) AS BIGINT)"
    alpha = (
        f"CAST(size(filter(b.ws, x -> x RLIKE {sql_string(ALPHA_WORD_CLASS)})) AS BIGINT)"
    )
    ellipsis_pm = _per_mille(ellipsis, n_lines)
    bullet_pm = _per_mille(bullet, n_lines)
    alpha_pm = _per_mille(alpha, n_ws)
    dup_line_pm = _per_mille(f"{n_lines} - CAST(size(b.dlines) AS BIGINT)", n_lines)
    dup_char_pm = _per_mille(f"{line_chars} - {dline_chars}", line_chars)
    keep = _and(
        f"{mean_centi} >= {GOPHER_MIN_MEAN_WORD_LEN_CENTI:d}",
        f"{mean_centi} <= {GOPHER_MAX_MEAN_WORD_LEN_CENTI:d}",
        f"{ellipsis_pm} <= {GOPHER_MAX_ELLIPSIS_LINE_PM:d}",
        f"{bullet_pm} <= {GOPHER_MAX_BULLET_LINE_PM:d}",
        f"{alpha_pm} >= {GOPHER_MIN_ALPHA_WORD_PM:d}",
        f"{dup_line_pm} <= {GOPHER_MAX_DUP_LINE_PM:d}",
        f"{dup_char_pm} <= {GOPHER_MAX_DUP_LINE_CHAR_PM:d}",
    )
    return b.selectExpr(
        "doc_id",
        *pass_names,
        f"{mean_centi} AS mean_word_len_centi",
        f"{ellipsis_pm} AS ellipsis_line_per_mille",
        f"{bullet_pm} AS bullet_line_per_mille",
        f"{alpha_pm} AS alpha_word_per_mille",
        f"{dup_line_pm} AS dup_line_per_mille",
        f"{dup_char_pm} AS dup_line_char_per_mille",
        f"{keep} AS keep",
    )


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing (training-data hygiene): count and redact emails,
    fixed-shape phone numbers, and IPv4 addresses. Pure JVM regex —
    whole-stage codegen, map-only, no Python. Patterns + order live in
    functions/textsql.py PII_REPLACEMENTS (Java-regex/RE2-compatible).
    Each category is counted on the text AFTER the earlier categories
    were redacted, so every count equals the number of its tokens in
    the final scrubbed text — an email with a dotted-quad domain
    ('a@10.0.0.5.com') counts once as email, never again as IP.
    Output: (doc_id, n_emails, n_phones, n_ips, scrubbed_md5)."""
    from ..functions.textsql import PII_REPLACEMENTS

    count_names = {"<EMAIL>": "n_emails", "<IP>": "n_ips", "<PHONE>": "n_phones"}
    scrubbed = F.col(text_col)
    counts = {}
    for pattern, token in PII_REPLACEMENTS:
        counts[count_names[token]] = (
            F.size(F.regexp_extract_all(scrubbed, F.lit(pattern), 0)).cast("long")
        )
        scrubbed = F.regexp_replace(scrubbed, pattern, token)

    return _spread_docs(documents, text_col).select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


KNOWN_LANGS = ("en", "th")


def training_corpus_keep(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The end-to-end training-set gate a 100 TB pipeline runs before
    tokenization: Gopher quality ∧ exact-dedup survivorship (first
    doc_id per identical text wins) ∧ known language. Single input
    scan (lang + md5 ride through gopher_quality's passthrough), one
    shuffle (the text_md5 window). Output: (doc_id, quality_keep,
    is_keeper, lang_ok, kept)."""
    q = gopher_quality(
        documents,
        text_col,
        passthrough={"lang": "lang", "text_md5": f"md5({text_col})"},
    )
    langs = ", ".join(map(sql_string, KNOWN_LANGS))
    flagged = q.selectExpr(
        "doc_id",
        "keep AS quality_keep",
        "doc_id = min(doc_id) OVER (PARTITION BY text_md5) AS is_keeper",
        f"lang IN ({langs}) AS lang_ok",
    )
    return flagged.selectExpr(
        "*", _and("quality_keep", "is_keeper", "lang_ok") + " AS kept"
    )


def _top_bigram_of_tokens(raw_tokens: list) -> list:
    """One (bigram, occurrences, n_bigrams) row for a document's raw
    split() output (empties dropped here); [] when <2 word tokens or
    null.
    Tie-break = min((-count, bigram)): Python str ordering is code
    point order == the JVM UTF8String binary order for valid UTF-8."""
    from collections import Counter

    toks = [t for t in raw_tokens or () if t]
    if len(toks) < 2:
        return []
    counts = Counter(map(" ".join, zip(toks, toks[1:])))
    best_gram, best_n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(best_gram, best_n, len(toks) - 1)]


def top_bigram(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Most frequent word 2-gram per document and its share of all
    bigram occurrences (the Gopher top-n-gram repetition signal).
    Docs with <2 word tokens have no bigram and are omitted. Ties
    break on the bigram string.
    Output: (doc_id, bigram, occurrences, top_per_mille).

    Optimization shape (r6): the per-document argmax is map-only — JVM
    codegen tokenization, then one mapInArrow pass running a
    collections.Counter per document. The old plan exploded EVERY
    bigram occurrence (interpreted concat_ws lambda per bigram),
    shuffled all of them into a (doc_id, bigram) hash aggregate and
    ranked with a window — 7.3 s at sf1.0 against ~0.5 s for this pass
    with ZERO exchanges (a per-document statistic never needed a
    shuffle). The per-mille share is computed by the same JVM
    expression as before on the one-row-per-doc output."""
    picked = row_map(
        _raw_tokens(documents, text_col),
        _top_bigram_of_tokens,
        "bigram string, occurrences long, n_bigrams long",
    )
    return picked.selectExpr(
        "doc_id",
        "bigram",
        "occurrences",
        f"{_per_mille('occurrences', 'n_bigrams')} AS top_per_mille",
    )


def fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over rolling
    character 8-grams of the lowercased text (a winnowing-style content
    fingerprint robust to reordering of large blocks).
    Output: (doc_id, fingerprint, n_grams)."""
    k = FINGERPRINT_NGRAM
    # Two Generate-node barriers (explode(array(x))): (1) lower(text)
    # evaluates once per row instead of once per GRAM inside the
    # substr lambda (O(len²) otherwise), (2) the gram array
    # materializes once for its two consumers (min + size).
    lowered = _spread_docs(documents, text_col).select(
        "doc_id", F.explode(F.array(F.lower(F.col(text_col)))).alias("lt")
    )
    lt = F.col("lt")
    grams = F.when(
        F.length(lt) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(lt) - (k - 1)),
            lambda i: F.md5(lt.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array(F.md5(lt)))
    gram_rows = lowered.select("doc_id", F.explode(F.array(grams)).alias("grams"))
    return gram_rows.select(
        "doc_id",
        F.array_min("grams").alias("fingerprint"),
        F.size("grams").cast("long").alias("n_grams"),
    )


def model_quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality filter plumbing (the fasttext-style linear
    scorer modern pipelines run after heuristic gates — DCLM /
    FineWeb-Edu shape): every token hashes into one of MODEL_BUCKETS
    buckets, the bucket's weight comes from a broadcast-sized literal
    array (a trained model drops into the same slot), and the document
    score is the mean token weight, emitted as a per-mille logit.

    Scale shape: map-only — tokenize, hash, and the weight lookup all
    run inside whole-stage codegen per row; the model rides the plan
    as a literal (at real model sizes, a broadcast variable); zero
    shuffles, zero Python.
    Output: (doc_id, n_tokens, logit_pm, keep)."""
    from ..functions.textsql import MODEL_BUCKETS

    toks = word_tokens(text_col)
    # The placeholder model is computed from its generating formula
    # (model_weights_pm's Knuth hash) instead of an element_at over a
    # 1024-literal array: a literal array inside a HOF lambda is
    # re-materialized PER TOKEN by codegen (measured 30x slower at
    # sf0.001); a trained model replaces this expression with a
    # broadcast-table lookup. Integer per-mille weights sum EXACTLY —
    # a double fold would land on round-half boundaries differently
    # than the oracle's list_sum.
    bucket = f"CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {MODEL_BUCKETS:d}"
    weight_pm = f"({bucket} * 2654435761) % 2001 - 1000"
    wsum_pm = (
        f"aggregate(transform({toks}, x -> {weight_pm}), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )
    n_tokens = f"CAST(size({toks}) AS BIGINT)"
    logit_pm = f"CAST(floor({wsum_pm} / greatest({n_tokens}, 1) + 0.5D) AS BIGINT)"
    return _spread_docs(documents, text_col).selectExpr(
        "doc_id",
        f"{n_tokens} AS n_tokens",
        f"{logit_pm} AS logit_pm",
        f"{logit_pm} > 0 AS keep",
    )


def paragraph_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide repeated-paragraph removal — the MassiveText/Gopher
    'repeated passages' step, operating ACROSS documents where
    repetition_stats measures within one: a paragraph survives only at
    its corpus-wide FIRST occurrence (first = lowest (doc_id,
    para_idx)), and each document reassembles from its surviving
    paragraphs in original order ("\\n\\n"-joined). Boilerplate
    headers/footers/navigation that repeat across a crawl disappear
    from every copy but the first.

    Scale shape: ONE shuffle — the per-hash first-occurrence window,
    PARTITIONED by the paragraph md5 (never unpartitioned); the
    reassembly groupBy runs map-side-partial sort_array∘collect_list.
    Paragraph text rides the hash exchange once (the same volume any
    text shuffle moves); docs whose every paragraph lost report
    n_kept=0 with md5('') via the left join.
    Output: (doc_id, n_paras, n_kept, clean_md5)."""
    from pyspark.sql import Window

    split = _nonempty_lines(F.col(text_col), PARA_SPLIT_PATTERN)
    paras = (
        _spread_docs(documents, text_col)
        .select("doc_id", F.posexplode(split).alias("idx", "p"))
        .withColumn("p_h", F.md5("p"))
    )
    w = Window.partitionBy("p_h").orderBy("doc_id", "idx")
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    rolled = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "p"))),
                    lambda s: s["p"],
                ),
                "\n\n",
            )
        ).alias("clean_md5"),
    )
    totals = documents.select(
        "doc_id", F.size(split).cast("long").alias("n_paras")
    )
    return totals.join(rolled, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )


VOCAB_TOP_K = 200


def vocab_topk(
    documents: DataFrame, k: int = VOCAB_TOP_K, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary head — the token-frequency table every
    tokenizer-training / stopword-calibration step starts from: the
    ``k`` most frequent word tokens with total and document
    frequencies. Shape at scale: one explode → partial-agg groupBy
    (token) — count and distinct-doc count in the same aggregate — then
    orderBy().limit() = TakeOrderedAndProject: parallel per-partition
    top-k, never a global sort of the vocabulary. Ties break on the
    token string. Output: (token, occurrences, doc_freq)."""
    rows = _spread_docs(documents, text_col).selectExpr(
        "doc_id", f"explode({word_tokens(text_col)}) AS token"
    )
    counts = rows.groupBy("token").agg(
        F.count("*").cast("long").alias("occurrences"),
        F.count_distinct("doc_id").cast("long").alias("doc_freq"),
    )
    return counts.orderBy(F.desc("occurrences"), F.asc("token")).limit(k)
