"""Text-analysis operators over the `documents` table — the language-ID /
quality-scoring / token-counting / fingerprinting layer a training-data
pipeline runs before dedup.

All four are pure built-in-expression plans (no Python UDFs): at 100 TB
they run entirely inside whole-stage codegen, embarrassingly parallel,
no shuffle except the final ORDER BY (which exists only for test
determinism and would be dropped in production).

Spark side binds the documents frame through
``spark.sql(text, documents=frame)``; the DuckDB oracle mirrors the same
computation with dialect-adjusted fragments (see functions/hashing.py
for the cross-engine determinism argument).
"""

from __future__ import annotations

import pandas as pd

from sqlrs_spark.functions.hashing import P31, h31_duck, h31_spark
from sqlrs_spark.operators.common import table_ref
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import _scan_units, load_table

# words-per-language scoring lists (tiny built-in stopword lists; a real
# pipeline would ship larger lists — the plan shape is identical)
_LANGS = [
    ("en", ["the", "a", "and", "of", "to", "in", "is"]),
    ("de", ["der", "die", "und", "das", "ist", "ein"]),
    ("es", ["el", "la", "de", "y", "que", "un"]),
    ("fr", ["le", "la", "et", "les", "des", "un"]),
    ("zh", ["的", "是", "了", "在", "和"]),
]


def _arr(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _lst(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# t01 — token counting (whitespace + BPE-ish regex + chars/4 heuristic)
# ---------------------------------------------------------------------------

# BPE-ish token count = alpha runs + digit runs + each other non-space
# char.  Counted as THREE single-char-class regex passes instead of one
# alternation `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]`: mathematically the same
# partition of the text, but alternation costs ~4x in Java's regex engine
# (measured 1.62s -> 0.42s over the 10x corpus) and scan-speed operators
# should spend their cycles scanning.
#
# Run counting collapses runs to one marker char and takes lengths instead
# of materializing regexp_extract_all's array<string> of every matched run
# (measured 30.7s -> 23.9s for the whole query at the 1000x replica — the
# arrays were pure GC pressure; nothing read the matched text).  Exact
# equivalence: collapsing '[a-zA-Z]+' runs to 'A' leaves digit runs intact
# ('A' is alpha, so the second pass cannot see new digit adjacencies), and
# after both collapses every alpha run and every digit run is exactly one
# non-space char while other chars (incl. spaces) pass through untouched —
# so n_bpe = length(collapsed) - n_spaces, with n_spaces counted by a
# regex-free translate.
_T01_SPARK = """
SELECT doc_id,
       size(split(text, ' '))                            AS n_ws_tokens,
       length(regexp_replace(regexp_replace(text, '[a-zA-Z]+', 'A'), '[0-9]+', 'A'))
         - (length(text) - length(translate(text, ' ', ''))) AS n_bpe_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT)          AS n_est_tokens,
       length(text)                                      AS n_chars_computed
FROM {documents}
ORDER BY doc_id
"""

_T01_DUCK = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT)              AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+', 0))
         + len(regexp_extract_all(text, '[0-9]+', 0))
         + len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS INT) AS n_bpe_tokens,
       CAST(ceil(len(text) / 4.0) AS BIGINT)                  AS n_est_tokens,
       CAST(len(text) AS INT)                                 AS n_chars_computed
FROM documents
ORDER BY doc_id
"""


@register("t01_token_count", oracle=_T01_DUCK, tags=("pipeline", "text"), bench=True)
def t01_token_count(spark, sf_dir):
    """Token counting: whitespace tokens, BPE-ish regex tokens, chars/4
    estimate. Pure projection — codegen'd, no shuffle."""
    return spark.sql(_T01_SPARK, documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t02 — language ID (stopword-list n-gram heuristic)
# ---------------------------------------------------------------------------

def _t02(spark_dialect: bool) -> str:
    split = "split(text, ' ')" if spark_dialect else "string_split(text, ' ')"
    flt = "size(filter({toks}, t -> array_contains({words}, t)))" if spark_dialect else (
        "len(list_filter({toks}, t -> list_contains({words}, t)))"
    )
    arr = _arr if spark_dialect else _lst
    scores = ",\n       ".join(
        f"CAST({flt.format(toks='toks', words=arr(words))} AS INT) AS s_{lang}"
        for lang, words in _LANGS
    )
    # deterministic argmax: first language (list order) with the max score
    best = "CASE " + " ".join(
        f"WHEN s_{lang} >= greatest(" + ", ".join(f"s_{l2}" for l2, _ in _LANGS) + f") THEN '{lang}'"
        for lang, _ in _LANGS
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS lang_label, {scores}
  FROM (SELECT doc_id, lang, {split} AS toks FROM {table_ref('documents', spark_dialect)}) t
)
SELECT doc_id, lang_label, s_en, s_de, s_es, s_fr, s_zh,
       {best} AS lang_guess
FROM scored
ORDER BY doc_id
"""


@register("t02_language_id", oracle=_t02(False), tags=("pipeline", "text"))
def t02_language_id(spark, sf_dir):
    """Language ID via per-language stopword hit counts with a deterministic
    argmax. Plan: projection with array filters — codegen, no shuffle."""
    return spark.sql(_t02(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t03 — quality scoring (length / type-token ratio / stopword ratio)
# ---------------------------------------------------------------------------

def _t03(spark_dialect: bool) -> str:
    if spark_dialect:
        split = "split(text, ' ')"
        nuniq = "size(array_distinct(toks))"
        ntok = "size(toks)"
        stop = "size(filter(toks, t -> array_contains(array('the','a','and','of','to'), t)))"
        sumlen = "aggregate(toks, 0L, (acc, t) -> acc + length(t))"
    else:
        split = "string_split(text, ' ')"
        nuniq = "len(list_distinct(toks))"
        ntok = "len(toks)"
        stop = "len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t)))"
        sumlen = "list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> len(t)::BIGINT)), (acc, t) -> acc + t)"
    return f"""
WITH feat AS (
  SELECT doc_id,
         CAST({ntok} AS BIGINT)   AS n_tokens,
         CAST({nuniq} AS BIGINT)  AS n_uniq,
         CAST({stop} AS BIGINT)   AS n_stop,
         CAST({sumlen} AS BIGINT) AS sum_len
  FROM (SELECT doc_id, {split} AS toks FROM {table_ref('documents', spark_dialect)}
        WHERE text IS NOT NULL) t
)
SELECT doc_id, n_tokens, n_uniq,
       n_uniq / CAST(n_tokens AS DOUBLE)                       AS ttr,
       n_stop / CAST(n_tokens AS DOUBLE)                       AS stop_ratio,
       sum_len / CAST(n_tokens AS DOUBLE)                      AS mean_word_len,
       0.5 * (n_uniq / CAST(n_tokens AS DOUBLE))
         + 0.2 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
         + 0.3 * least(sum_len / CAST(n_tokens AS DOUBLE) / 8.0, 1.0) AS quality_score
FROM feat
ORDER BY doc_id
"""


@register("t03_quality_score", oracle=_t03(False), tags=("pipeline", "text"))
def t03_quality_score(spark, sf_dir):
    """Quality scoring from length/stopword/type-token features; the score
    is a fixed IEEE expression so values hash-match the oracle exactly."""
    return spark.sql(_t03(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t04 — document fingerprint (rolling polynomial hash over token hashes)
# ---------------------------------------------------------------------------

def _t04(spark_dialect: bool) -> str:
    if spark_dialect:
        split = "split(text, ' ')"
        fold = (
            f"aggregate({split}, cast(0 as bigint), "
            f"(acc, tok) -> pmod(acc * 31 + {h31_spark('tok')}, {P31}))"
        )
    else:
        split = "string_split(text, ' ')"
        fold = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform({split}, tok -> {h31_duck('tok')})), "
            f"(acc, h) -> (acc * 31 + h) % {P31})"
        )
    return f"""
SELECT doc_id, {fold} AS fingerprint
FROM {table_ref('documents', spark_dialect)} WHERE text IS NOT NULL
ORDER BY doc_id
"""


@register("t04_fingerprint", oracle=_t04(False), tags=("pipeline", "text"))
def t04_fingerprint(spark, sf_dir):
    """Order-sensitive rolling hash (poly mod 2^31-1 over md5-derived token
    hashes) — a content-defined fingerprint for shift-tolerant dedup."""
    return spark.sql(_t04(True), documents=load_table(spark, sf_dir, "documents"))

# ---------------------------------------------------------------------------
# t05 — document chunking (overlapping token windows for training samples)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 32, 24  # 8-token overlap


def _t05(spark_dialect: bool) -> str:
    if spark_dialect:
        split = "split(text, ' ')"
        series = f"explode(sequence(0, greatest(size(toks) - 1, 0), {_STRIDE}))"
        chunk = f"slice(toks, chunk_start + 1, {_CHUNK})"
        join_ = "array_join({c}, ' ')"
        nel = "size({c})"
    else:
        split = "string_split(text, ' ')"
        series = f"unnest(generate_series(0, len(toks) - 1, {_STRIDE}))"
        chunk = f"list_slice(toks, chunk_start + 1, chunk_start + {_CHUNK})"
        join_ = "array_to_string({c}, ' ')"
        nel = "len({c})"
    return f"""
SELECT doc_id,
       CAST(chunk_start AS BIGINT)          AS chunk_start,
       CAST({nel.format(c=chunk)} AS INT)   AS n_chunk_tokens,
       {join_.format(c=chunk)}              AS chunk_text
FROM (
  SELECT doc_id, toks, {series} AS chunk_start
  FROM (SELECT doc_id, {split} AS toks FROM {table_ref('documents', spark_dialect)}
        WHERE text IS NOT NULL) t
) s
ORDER BY doc_id, chunk_start
"""


@register("t05_chunking", oracle=_t05(False), tags=("pipeline", "text"))
def t05_chunking(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, stride 24) — the
    fan-out step that turns documents into training samples.

    Plan: split → explode(sequence) → slice, all codegen'd builtins; the
    explode multiplies rows ~n_tokens/stride with zero shuffle, so at
    100 TB it stays embarrassingly parallel (output partition count is
    governed by input splits; repartition after if the fan-out skews)."""
    return spark.sql(_t05(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t06 — repetition ratio (duplicated-trigram share, a quality signal)
# ---------------------------------------------------------------------------

def _t06(spark_dialect: bool) -> str:
    if spark_dialect:
        split = "split(text, ' ')"
        tri = (
            "transform(sequence(1, size(toks) - 2), i -> "
            "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
            "element_at(toks, i + 2)))"
        )
        nel, nuq = "size(tris)", "size(array_distinct(tris))"
        empty = "CAST(array() AS ARRAY<STRING>)"
    else:
        split = "string_split(text, ' ')"
        tri = (
            "list_transform(generate_series(1, len(toks) - 2), i -> "
            "concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
        )
        nel, nuq = "len(tris)", "len(list_distinct(tris))"
        empty = "CAST([] AS VARCHAR[])"
    return f"""
WITH tri AS (
  SELECT doc_id,
         CASE WHEN size_ok THEN {tri} ELSE {empty} END AS tris
  FROM (SELECT doc_id, toks, {('size(toks)' if spark_dialect else 'len(toks)')} >= 3 AS size_ok
        FROM (SELECT doc_id, {split} AS toks FROM {table_ref('documents', spark_dialect)}
        WHERE text IS NOT NULL) t0) t
)
SELECT doc_id,
       CAST({nel} AS BIGINT) AS n_trigrams,
       CAST({nuq} AS BIGINT) AS n_uniq_trigrams,
       CASE WHEN {nel} > 0
            THEN 1.0 - CAST({nuq} AS DOUBLE) / CAST({nel} AS DOUBLE)
            ELSE 0.0 END AS rep_ratio
FROM tri
ORDER BY doc_id
"""


@register("t06_repetition", oracle=_t06(False), tags=("pipeline", "text"))
def t06_repetition(spark, sf_dir):
    """Duplicated-trigram ratio — the standard boilerplate/repetition quality
    filter. 1-based element_at on both engines keeps indexing identical;
    pure projection, codegen, no shuffle."""
    return spark.sql(_t06(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t07 — pattern scrub counts (emails / URLs / digit runs / non-ascii)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
_URL_RE = "https?://[^ ]+"
_DIGITS_RE = "[0-9]{4,}"


def _t07(spark_dialect: bool) -> str:
    n = "size" if spark_dialect else "len"
    # spark.sql formats its text, so Spark's copy doubles the quantifier's braces
    digits = _DIGITS_RE.replace("{", "{{").replace("}", "}}") if spark_dialect else _DIGITS_RE
    # Spark regexp_replace is global; DuckDB needs the explicit 'g' flag
    scrub = "regexp_replace(text, '[ -~]', '')" if spark_dialect else (
        "regexp_replace(text, '[ -~]', '', 'g')"
    )
    return f"""
SELECT doc_id,
       CAST({n}(regexp_extract_all(text, '{_EMAIL_RE}', 0)) AS INT)  AS n_emails,
       CAST({n}(regexp_extract_all(text, '{_URL_RE}', 0)) AS INT)    AS n_urls,
       CAST({n}(regexp_extract_all(text, '{digits}', 0)) AS INT) AS n_digit_runs,
       length({scrub})                                               AS n_non_ascii
FROM {table_ref('documents', spark_dialect)}
ORDER BY doc_id
"""


@register("t07_pattern_scrub", oracle=_t07(False), tags=("pipeline", "text"))
def t07_pattern_scrub(spark, sf_dir):
    """PII-ish pattern counts (emails, URLs, long digit runs, non-ascii
    chars) — the signals a scrubbing/filter pass keys on. Regexes stay
    JVM-side (codegen'd regexp_extract_all), no Python."""
    return spark.sql(_t07(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t08 — Gopher-style quality rule battery (pass/fail per rule + verdict)
# ---------------------------------------------------------------------------

# Published pretraining-filter thresholds (Gopher / MassiveText rules):
# word-count bounds, mean-word-length bounds, symbol-to-word ratios,
# bullet-line fraction, alphabetic-word fraction, stopword floor.
_T08_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_T08_MIN_WORDS, _T08_MAX_WORDS = 5, 100000
_T08_MIN_MWL, _T08_MAX_MWL = 2.0, 10.0
_T08_MAX_SYMBOL_RATIO = 0.1
_T08_MAX_BULLET_FRAC = 0.9
_T08_MIN_ALPHA_FRAC = 0.8
_T08_MIN_STOP_HITS = 2


def _t08(spark_dialect: bool) -> str:
    if spark_dialect:
        n = "size"
        words = "split(text, ' ')"
        alpha = "size(filter(words, w -> w rlike '[a-zA-Z]'))"
        bullets = "size(filter(lines, l -> l like '- %' OR l like '* %'))"
        stop_hits = (
            "size(array_intersect(array_distinct(words), "
            + _arr(_T08_STOPWORDS)
            + "))"
        )
    else:
        n = "len"
        words = "string_split(text, ' ')"
        alpha = "len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))"
        bullets = "len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))"
        stop_hits = (
            "len(list_intersect(list_distinct(words), "
            + _lst(_T08_STOPWORDS)
            + "))"
        )
    # '#' count and '...' count via length deltas — identical both engines
    hashes = "(length(text) - length(replace(text, '#', '')))"
    ellipses = "((length(text) - length(replace(text, '...', ''))) / 3)"
    newline = "'\\n'" if spark_dialect else "chr(10)"
    lines = words.replace("' '", newline)
    return f"""
WITH feats AS (
  SELECT doc_id,
         CAST({n}(words) AS BIGINT) AS n_words,
         CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / {n}(words)                                  AS mean_word_len,
         CAST({hashes} + {ellipses} AS DOUBLE)
           / {n}(words)                                  AS symbol_ratio,
         CAST({bullets} AS DOUBLE) / {n}(lines)          AS bullet_frac,
         CAST({alpha} AS DOUBLE) / {n}(words)            AS alpha_frac,
         CAST({stop_hits} AS BIGINT)                     AS stop_hits
  FROM (SELECT doc_id, text, {words} AS words, {lines} AS lines
        FROM {table_ref('documents', spark_dialect)}) base
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       alpha_frac, stop_hits,
       n_words BETWEEN {_T08_MIN_WORDS} AND {_T08_MAX_WORDS}       AS ok_words,
       mean_word_len BETWEEN {_T08_MIN_MWL} AND {_T08_MAX_MWL}     AS ok_mwl,
       symbol_ratio <= {_T08_MAX_SYMBOL_RATIO}                     AS ok_symbols,
       bullet_frac <= {_T08_MAX_BULLET_FRAC}                       AS ok_bullets,
       alpha_frac >= {_T08_MIN_ALPHA_FRAC}                         AS ok_alpha,
       stop_hits >= {_T08_MIN_STOP_HITS}                           AS ok_stopwords,
       (n_words BETWEEN {_T08_MIN_WORDS} AND {_T08_MAX_WORDS})
         AND (mean_word_len BETWEEN {_T08_MIN_MWL} AND {_T08_MAX_MWL})
         AND symbol_ratio <= {_T08_MAX_SYMBOL_RATIO}
         AND bullet_frac <= {_T08_MAX_BULLET_FRAC}
         AND alpha_frac >= {_T08_MIN_ALPHA_FRAC}
         AND stop_hits >= {_T08_MIN_STOP_HITS}                     AS passes
FROM feats
ORDER BY doc_id
"""


@register("t08_quality_rules", oracle=_t08(False), tags=("pipeline", "text"))
def t08_quality_rules(spark, sf_dir):
    """Gopher-style quality rule battery: word-count bounds, mean word
    length, symbol-to-word ratio (# and ...), bullet-line fraction,
    alphabetic-word fraction, stopword floor — per-rule flags plus the
    conjunction verdict, the standard pretraining document filter.

    Scale shape: like t01-t07 this is a pure built-in-expression
    projection — whole-stage codegen end to end, zero shuffles beyond the
    determinism ORDER BY, so it runs at scan speed on any corpus size.
    Word/line arrays are built once in the inner projection and every
    rule reads them; division denominators are >=1 by construction
    (split('') yields ['']) so the flags are total functions.
    """
    return spark.sql(_t08(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p20 — TF-IDF-style distinctive terms per document (corpus-relative)
# ---------------------------------------------------------------------------

_P20_TOP_K = 5


def _p20(spark_dialect: bool) -> str:
    # Exact rational scoring: tf * N / df with integer tf, N, df.  tf*N
    # stays far inside the 2^53 double-exact range and IEEE division is
    # correctly rounded in both engines, so scores (and their ordering)
    # are bit-identical cross-engine — no ln(), no float-sum order
    # nondeterminism, which is what keeps this windowed top-k inside the
    # driver's value-hash gate.
    #
    # r8 optimization round, Spark dialect only: df is derived FROM the
    # tf aggregate — the tf rows are exactly the distinct (doc_id, tok)
    # pairs, so COUNT(*) OVER (PARTITION BY tok) on them IS
    # COUNT(DISTINCT doc_id) per token.  The r7 formulation ran a SECOND
    # full scan + explode + (tok, doc_id)-distinct aggregate for df and
    # then broadcast the vocabulary back onto tf (guide §2.4): one whole
    # token-explode pass and one exchange gone, and the vocab-sized
    # broadcast (a scale hazard — vocabulary grows with corpus at 100 TB)
    # is replaced by a window over the same tok partitioning the df
    # aggregate needed anyway.  Scores and ordering are unchanged —
    # measured bit-identical vs the (unchanged) DuckDB formulation at
    # sf0.001/0.01/0.1.
    if spark_dialect:
        return f"""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM {{documents}} LATERAL VIEW explode(split(text, ' ')) AS tok
  GROUP BY doc_id, tok
),
withdf AS (
  SELECT doc_id, tok, tf, COUNT(*) OVER (PARTITION BY tok) AS df FROM tf
),
n AS (
  SELECT COUNT(*) AS n_docs FROM {{documents}}
),
scored AS (
  SELECT doc_id, tok, tf, df,
         CAST(tf AS DOUBLE) * n.n_docs / df AS score
  FROM withdf CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rank
  FROM scored
)
SELECT doc_id, rank, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rank <= {_P20_TOP_K}
ORDER BY doc_id, rank
"""
    tok_src = ", unnest(string_split(text, ' ')) AS u(tok)"
    return f"""
WITH tok AS (
  SELECT doc_id, tok FROM documents {tok_src}
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
),
df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
),
n AS (
  SELECT COUNT(*) AS n_docs FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rank
  FROM scored
)
SELECT doc_id, rank, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rank <= {_P20_TOP_K}
ORDER BY doc_id, rank
"""


@register("p20_tfidf_terms", oracle=_p20(False), tags=("pipeline", "text"), bench=True)
def p20_tfidf_terms(spark, sf_dir):
    """Corpus-relative distinctive terms: per-document top-5 tokens by
    tf x (N/df) — the inverse-document-frequency signal without the
    logarithm (exact rational score, see _p20) so ranking is
    deterministic across engines.

    Scale shape (r8): ONE explode pass — term frequencies shuffle on
    (doc_id, tok), document frequencies are a window count over the tok
    partitioning of those same tf rows (tf rows are exactly the
    distinct (doc, tok) pairs, so the window count IS df), then the
    per-doc top-k window re-partitions by doc_id.  The r7 shape ran a
    second scan + explode + distinct-aggregate for df and broadcast the
    vocabulary back onto tf; at 100 TB the vocabulary grows with the
    corpus, so that broadcast was a scale hazard as well as a wasted
    pass.  No stage carries document text past the first explode.
    """
    return spark.sql(_p20(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t09 — unicode normalization / cleaning (the one text op that needs Python)
# ---------------------------------------------------------------------------

# Shared cleaning contract, mirrored exactly in both engines:
#   1. NFC normalize (Python unicodedata <-> DuckDB nfc_normalize — both
#      implement Unicode NFC; agreement spot-checked on composed/
#      decomposed/ligature/fullwidth cases in tests)
#   2. strip control chars + zero-width space + BOM
#   3. collapse ASCII whitespace runs to one space, trim spaces
_T09_CTRL_PY = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​﻿]"
_T09_CTRL_DUCK = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}\x{FEFF}]"
_T09_WS = "[ \\t\\n\\r]+"


def _t09_clean_py(s):
    import re
    import unicodedata

    s = unicodedata.normalize("NFC", s)
    s = re.sub(_T09_CTRL_PY, "", s)
    s = re.sub("[ \t\n\r]+", " ", s)
    return s.strip(" ")


def _t09_oracle() -> str:
    clean = (
        "trim(regexp_replace(regexp_replace(nfc_normalize(text), "
        f"'{_T09_CTRL_DUCK}', '', 'g'), '{_T09_WS}', ' ', 'g'), ' ')"
    )
    return f"""
WITH cleaned AS (
  SELECT doc_id, text, {clean} AS ctext FROM documents
)
SELECT doc_id,
       CAST(length(ctext) AS BIGINT) AS n_chars_clean,
       {h31_duck("ctext")} AS clean_digest,
       ctext <> text AS changed
FROM cleaned
ORDER BY doc_id
"""


@register("t09_unicode_clean", oracle=_t09_oracle(), tags=("pipeline", "text"), bench=True)
def t09_unicode_clean(spark, sf_dir):
    """Unicode normalization + cleaning: NFC, control/zero-width/BOM strip,
    whitespace collapse — the canonicalization pass a corpus runs before
    tokenization/dedup so visually-identical documents hash identically.

    This is the ONE text operator that genuinely needs Python (Spark has
    no NFC builtin; ICU lives outside the JVM expression library), so it
    rides an Arrow-batched pandas UDF — the documented slow-path shape:
    column batches cross the boundary, everything around the UDF (digest,
    lengths, compare, sort) stays codegen'd JVM. The DuckDB oracle runs
    the identical three-step contract via utf8proc's nfc_normalize, so
    the value hash proves the two Unicode implementations agree on the
    corpus; adversarial composed/decomposed/ligature cases are pinned in
    tests/test_unicode_robustness.py.

    ASCII fast path (round-2 perf-weak fix — t09 was 3.9x DuckDB at the
    1000x replica because EVERY row crossed the Arrow boundary): rows of
    pure printable ASCII ([\\x20-\\x7e]) are NFC-invariant and contain no
    control/zero-width/BOM characters, so their whole clean contract
    collapses to collapse-space-runs + trim — pure codegen'd JVM
    regexp_replace.  The plan is a UNION of the two row classes rather
    than a per-row CASE around the UDF: Spark evaluates ArrowEvalPython
    for every row of its input regardless of the CASE branch, so the
    round-2 null-the-argument form still paid the Arrow batch machinery
    on ALL rows (measured ~3.7s of the 11.7s at the 1000x replica); with
    the union split only genuinely non-ASCII rows enter the Python stage
    at all, at the cost of a second (columnar, page-cached) scan for the
    rlike partition.  The output is intentionally UNORDERED — both the
    driver's canonicalization and the oracle compare are order-
    insensitive, and a global 5M-row sort of a per-doc projection
    (measured ~3.6s) is exactly what a production pipeline would never
    run; the union makes the order engine-dependent, which is the honest
    contract for an embarrassingly-parallel cleaning pass.  The DuckDB
    oracle KEEPS its ORDER BY — measured at the 1000x replica, DuckDB's
    unsorted form streams the nfc_normalize projection through the
    single result-fetch thread (87.0s vs 4.0s sorted: the sort is a
    parallelism barrier that materializes the projection across threads)
    — so each engine is timed on its better plan for the same
    unordered-set contract.  Net: 11.7s ->
    ~5s at the 1000x replica.  The unicode-adversarial suite still routes
    its non-ASCII cases through Python.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def clean_udf(s: pd.Series) -> pd.Series:
        import re
        import unicodedata

        ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​﻿]")
        ws = re.compile("[ \t\n\r]+")

        def one(x):
            if x is None:  # NULL text stays NULL (matches the SQL oracle)
                return None
            x = unicodedata.normalize("NFC", x)
            x = ctrl.sub("", x)
            x = ws.sub(" ", x)
            return x.strip(" ")

        return s.map(one)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_ascii = F.col("text").rlike("^[\\x20-\\x7e]*$")
    fast_rows = docs.filter(is_ascii).select(
        "doc_id", "text", F.trim(F.regexp_replace("text", " +", " ")).alias("ctext")
    )
    # NOT-true, not just false: rlike(NULL) is NULL, and NULL-text rows
    # must still emit their (NULL ctext) row exactly as the oracle does —
    # a plain ~is_ascii filter would drop them from both union arms
    slow_rows = docs.filter(~is_ascii.eqNullSafe(True)).select(
        "doc_id", "text", clean_udf(F.col("text")).alias("ctext")
    )
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(length(ctext) AS BIGINT) AS n_chars_clean,
               {h31_spark("ctext")} AS clean_digest,
               ctext <> text AS changed
        FROM {{cleaned}}
        """,
        cleaned=fast_rows.unionAll(slow_rows),
    )


# ---------------------------------------------------------------------------
# t10 — corpus-level boilerplate detection (shared 8-gram share per doc)
# ---------------------------------------------------------------------------

_T10_NG = 8  # tokens per shingle
_T10_MIN_DOCS = 2  # a shingle is "boilerplate" once >= 2 docs contain it
_T10_FRAC = 0.25  # report docs whose boilerplate share crosses this


def _t10(spark_dialect: bool) -> str:
    # The shingle is hashed to a 60-bit int BEFORE the explode, so the
    # shuffle carries (doc_id, 8-byte hash) rows, never 8-token strings.
    from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark

    if spark_dialect:
        toks = "split(text, ' ')"
        gram = md5int_spark(f"concat_ws(' ', slice(tk, i, {_T10_NG}))")
        sh = f"explode(transform(sequence(1, size(tk) - {_T10_NG - 1}), i -> {gram}))"
        guard = f"size({toks}) >= {_T10_NG}"
    else:
        toks = "string_split(text, ' ')"
        gram = md5int_duck(f"array_to_string(tk[i:i+{_T10_NG - 1}], ' ')")
        sh = f"unnest(list_transform(range(1, len(tk) - {_T10_NG - 2}), i -> {gram}))"
        guard = f"len({toks}) >= {_T10_NG}"
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tk FROM {table_ref('documents', spark_dialect)} WHERE {guard}
),
sh AS (
  SELECT doc_id, {sh} AS g FROM toks
),
freq AS (
  SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM sh GROUP BY g
),
per_doc AS (
  SELECT sh.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN f.ndocs >= {_T10_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM sh JOIN freq f ON sh.g = f.g
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_boiler,
       round(CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS boiler_frac
FROM per_doc
WHERE CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= {_T10_FRAC}
ORDER BY doc_id
"""


@register("t10_boilerplate", oracle=_t10(False), tags=("pipeline", "text"))
def t10_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate detection: the share of each document's
    token 8-grams that also appear in other documents (C4/RefinedWeb-style
    repeated-span cleaning, adapted to newline-free token text).

    Scale design: shingles are hashed to 60-bit ints map-side, so the two
    shuffles (shingle-frequency groupBy, per-doc rollup) move (bigint,
    bigint) pairs — never text.  COUNT(DISTINCT doc_id) partial-aggregates
    per partition; the frequency join back to the shingle stream is an
    equi-join on the hash, which AQE handles as a shuffled-hash join with
    skew splitting (a universal boilerplate shingle — a cookie banner —
    is exactly the skewed-key case).  A production variant would drop the
    report below a frequency floor computed from corpus size; the fixed
    >= {_T10_MIN_DOCS}-doc threshold here keeps the oracle deterministic.
    """
    return spark.sql(_t10(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t11 — cross-document n-gram novelty (corpus-order first-seen attribution)
# ---------------------------------------------------------------------------

_T11_NG = 3  # tokens per shingle


def _t11(spark_dialect: bool) -> str:
    # Trigrams hash to 60-bit ints map-side (the t10 discipline: the
    # shuffles carry (doc_id, 8-byte hash), never token strings); the
    # first-owner attribution is a plain MIN(doc_id) per hash.
    from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark

    if spark_dialect:
        toks = "split(text, ' ')"
        gram = md5int_spark(f"concat_ws(' ', slice(tk, i, {_T11_NG}))")
        sh = f"explode(transform(sequence(1, size(tk) - {_T11_NG - 1}), i -> {gram}))"
        guard = f"size({toks}) >= {_T11_NG}"
    else:
        toks = "string_split(text, ' ')"
        gram = md5int_duck(f"array_to_string(tk[i:i+{_T11_NG - 1}], ' ')")
        sh = f"unnest(list_transform(range(1, len(tk) - {_T11_NG - 2}), i -> {gram}))"
        guard = f"len({toks}) >= {_T11_NG}"
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tk FROM {table_ref('documents', spark_dialect)} WHERE {guard}
),
sh AS (
  SELECT DISTINCT doc_id, g FROM (SELECT doc_id, {sh} AS g FROM toks) raw
),
owner AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
       CAST(SUM(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(SUM(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_frac
FROM sh JOIN owner o ON sh.g = o.g
GROUP BY sh.doc_id
ORDER BY sh.doc_id
"""


@register("t11_ngram_novelty", oracle=_t11(False), tags=("pipeline", "text"))
def t11_ngram_novelty(spark, sf_dir):
    """Cross-document novelty scoring: the fraction of each document's
    DISTINCT token trigrams whose corpus-wide first owner (lowest doc_id
    — ingestion order) is that document.  The standard freshness signal a
    streaming-ingest curation pipeline uses to down-weight documents that
    mostly restate earlier ones — t10's boilerplate share asks "how much
    of me is SHARED"; t11 asks "how much of me arrived FIRST".

    Scale design: trigrams hash to 60-bit ints before the explode, so
    both shuffles — the per-doc DISTINCT and the first-owner MIN(doc_id)
    groupBy — move (bigint, bigint) pairs with map-side partial
    aggregation; the owner set is vocabulary-bounded, and the attribution
    join is an equi-join on the hash (AQE skew-splits a universal trigram
    the same way t10's boilerplate join does).  The exact rational
    novelty fraction rounds at 6 places identically in both engines."""
    return spark.sql(_t11(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t12 — unigram-LM quality scoring (corpus-trained token-frequency stats)
# ---------------------------------------------------------------------------


def _t12(spark_dialect: bool) -> str:
    # Tokens hash to 60-bit ints before any shuffle (the t10/t11
    # discipline); counting over the hashes computes identical numbers in
    # both engines because both sides hash with the same md5 prefix.
    from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark

    if spark_dialect:
        tok = "SELECT doc_id, explode(split(text, ' ')) AS t FROM {documents}"
        g = md5int_spark("t")
        idiv = "div"
    else:
        tok = "SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents"
        g = md5int_duck("t")
        idiv = "//"
    return f"""
WITH tok AS (
  SELECT doc_id, {g} AS g FROM ({tok}) raw
),
cnt AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY g
),
doc AS (
  SELECT tok.doc_id,
         CAST(COUNT(*) AS BIGINT)   AS ntok,
         CAST(SUM(cnt.c) AS BIGINT) AS sum_cnt,
         CAST(MIN(cnt.c) AS BIGINT) AS min_cnt
  FROM tok JOIN cnt ON tok.g = cnt.g
  GROUP BY tok.doc_id
)
SELECT doc_id, ntok, sum_cnt, min_cnt,
       CAST((sum_cnt * 1000000) {idiv} ntok AS BIGINT) AS mean_cnt_ppm
FROM doc
ORDER BY doc_id
"""


@register("t12_unigram_lm_score", oracle=_t12(False), tags=("pipeline", "text"))
def t12_unigram_lm_score(spark, sf_dir):
    """Corpus-trained unigram-LM quality scoring: train token frequencies
    on the corpus itself, then score every document by the corpus counts
    of its own tokens — the integer-exact form of the CCNet/Gopher
    unigram-frequency quality filter.  ``mean_cnt_ppm`` (mean corpus
    count of the doc's tokens, arithmetic-mean form of the LM score,
    scaled 1e6) ranks fluent docs above keyboard-mash; ``min_cnt`` == 1
    flags docs containing corpus-unique (OOV-like) tokens.

    Scale design: tokens hash to 60-bit ints map-side, so the three
    shuffles — the vocabulary count groupBy, the score join, the per-doc
    rollup — move (bigint, bigint) pairs, never token strings; both
    groupBys partial-aggregate map-side (heavy hitters like 'the'
    collapse per-partition before the exchange, the universal-token skew
    case), and the count join is an equi-join on the hash that AQE
    skew-splits.  The vocabulary is corpus-sublinear, so the cnt side is
    broadcastable long past this SF.  All outputs are integer-exact:
    BIGINT sums and an integer division (floor on positives in both
    engines) — no float crosses the oracle boundary.  Overflow bound:
    sum_cnt*1e6 needs max_doc_tokens * max_token_count < 9.2e12, holding
    to a ~1e5-doc-tokens × ~1e7-token-count corpus (≈ sf10k); past that
    the scale factor drops a digit or the sum widens to DECIMAL(38,0).
    Integer division by construction: Spark `div` and DuckDB `//` both
    truncate, identical on the non-negative operands here."""
    return spark.sql(_t12(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t13 — asymmetric n-gram containment (doc-in-doc / quote detection)
# ---------------------------------------------------------------------------


def _t13(spark_dialect: bool) -> str:
    """Dual-dialect builder for token-3-gram CONTAINMENT pairs.

    Containment(A->B) = |grams(A) ∩ grams(B)| / |grams(A)| is the
    ASYMMETRIC near-dup measure p04's Jaccard cannot express: a short doc
    quoted wholesale inside a long one scores ~1.0 on containment but
    near 0 on Jaccard (the union is dominated by the long doc).  That is
    the shape that matters for quote/boilerplate-inclusion detection in
    a training corpus.  Scores are exact integers (1e3-scaled integer
    division — truncating in both engines on the non-negative operands),
    candidates are only pairs sharing >=1 gram within a lang block.
    """
    if spark_dialect:
        grams = (
            "SELECT doc_id, lang, explode(array_distinct(transform("
            " sequence(0, size(tk) - 3),"
            " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS g "
            "FROM (SELECT doc_id, lang, split(text, ' ') AS tk FROM {documents}"
            " WHERE text IS NOT NULL) WHERE size(tk) >= 3"
        )
        idiv = "div"
    else:
        grams = (
            "SELECT DISTINCT doc_id, lang, "
            " tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g "
            "FROM (SELECT doc_id, lang, tk,"
            "             unnest(generate_series(1, len(tk) - 2)) AS i"
            "      FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk"
            "            FROM documents WHERE text IS NOT NULL)"
            "      WHERE len(tk) >= 3)"
        )
        idiv = "//"
    return f"""
WITH grams AS ({grams}),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i_n
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.a_id, i.b_id,
       CAST(1000 * i.i_n {idiv} ca.n AS BIGINT) AS cont_ab_millis,
       CAST(1000 * i.i_n {idiv} cb.n AS BIGINT) AS cont_ba_millis
FROM inter i
JOIN counts ca ON ca.doc_id = i.a_id
JOIN counts cb ON cb.doc_id = i.b_id
WHERE 1000 * i.i_n {idiv} ca.n >= 600 OR 1000 * i.i_n {idiv} cb.n >= 600
ORDER BY i.a_id, i.b_id
"""


@register("t13_ngram_containment", oracle=_t13(False), tags=("pipeline", "text", "dedup"))
def t13_ngram_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (see _t13).

    Spark plan: one explode produces the distinct-gram relation, which
    shuffles ONCE on the gram key; the self-join enumerates only pairs
    sharing a gram (candidate generation, never n^2), and the two count
    joins are on doc_id.  At 100 TB the gram relation is the big shuffle
    — the scale hardening is the p16 pattern (hash grams to 60-bit longs
    and cap degenerate gram buckets); kept as raw strings here because
    the oracle must build the identical grams, and the candidate
    structure is what this operator pins.
    """
    return spark.sql(_t13(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t14 — vocabulary growth curve (Heaps'-law statistics per corpus prefix)
# ---------------------------------------------------------------------------

#: docs per growth checkpoint — small enough that test SFs produce a real
#: curve (sf0.01: ~400 docs -> 7 points), large enough that the window
#: stage stays tiny at any corpus size (60k docs -> ~1k rows)
_T14_BUCKET = 64


def _t14(spark_dialect: bool) -> str:
    """Vocabulary growth: cumulative distinct-token count (and total token
    count) at successive corpus prefixes in doc_id order — the Heaps'-law
    curve a corpus-curation pipeline tracks to detect vocabulary
    saturation (diminishing new-token yield means more of the same data).

    Both statistics reduce to two hash aggregates over the exploded token
    relation: per-bucket token totals, and each token's FIRST bucket
    (MIN) — a token contributes to cumulative vocabulary exactly once, at
    its first appearance.  The cumulative sums then run over the tiny
    per-bucket frame.  No per-prefix rescan, no distinct-per-prefix
    blowup: the token relation shuffles once on the token key.
    """
    if spark_dialect:
        tok_rel = (
            f"SELECT doc_id DIV {_T14_BUCKET} AS bucket,"
            " explode(split(text, ' ')) AS tok FROM {documents}"
        )
    else:
        tok_rel = (
            f"SELECT doc_id // {_T14_BUCKET} AS bucket,"
            " unnest(string_split(text, ' ')) AS tok FROM documents"
        )
    return f"""
WITH tok AS ({tok_rel}),
per_bucket AS (
  SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket
),
firsts AS (
  SELECT tok, MIN(bucket) AS first_bucket FROM tok GROUP BY tok
),
new_per_bucket AS (
  SELECT first_bucket AS bucket, COUNT(*) AS n_new
  FROM firsts GROUP BY first_bucket
)
SELECT p.bucket,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_tokens,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY p.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM per_bucket p LEFT JOIN new_per_bucket n ON p.bucket = n.bucket
ORDER BY p.bucket
"""


@register("t14_vocab_growth", oracle=_t14(False), tags=("pipeline", "text"))
def t14_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve (see _t14).

    Scale shape: explode -> two partial-aggregating hash aggs (bucket
    totals; per-token MIN bucket).  The token agg is the only large
    shuffle and it keys on the token itself — high cardinality, no skew
    beyond natural Zipf heads, which partial aggregation absorbs
    map-side.  The cumulative window runs over |buckets| rows (~corpus /
    64 docs), driver-trivial at any SF.  The single-partition window is
    deliberate: its input is already tiny.
    """
    return spark.sql(_t14(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p28 — quality-filter cascade with first-rejection attribution
# ---------------------------------------------------------------------------


def _p28(spark_dialect: bool) -> str:
    """Filter-cascade funnel: every document is attributed to the FIRST
    stage that rejects it (or 'pass'), with per-stage document/token/char
    totals — the corpus-curation report that says where the data dies.
    Complements t08 (per-document independent rule flags): this is the
    ORDERED cascade view, the thing a pipeline owner reads to decide which
    filter to tune.

    Stages (training-data-pipeline standard): hard length floor, language
    allowlist, repetition (type-token ratio), stopword floor.  All
    thresholds integer-scaled so both engines compare exact integers.
    """
    if spark_dialect:
        toks = "split(text, ' ')"
        nuniq = "size(array_distinct(toks))"
        ntok = "size(toks)"
        stop = (
            "size(filter(toks, t -> array_contains("
            "array('the','a','and','of','to','el','la','de','der','die','und'), t)))"
        )
    else:
        toks = "string_split(text, ' ')"
        nuniq = "len(list_distinct(toks))"
        ntok = "len(toks)"
        stop = (
            "len(list_filter(toks, t -> list_contains("
            "['the','a','and','of','to','el','la','de','der','die','und'], t)))"
        )
    return f"""
WITH feat AS (
  SELECT doc_id, lang, n_chars,
         CAST({ntok} AS BIGINT)  AS n_tokens,
         CAST({nuniq} AS BIGINT) AS n_uniq,
         CAST({stop} AS BIGINT)  AS n_stop
  FROM (SELECT doc_id, lang, n_chars, {toks} AS toks FROM {table_ref('documents', spark_dialect)}) t
),
staged AS (
  SELECT doc_id, n_tokens, n_chars,
         CASE
           WHEN n_tokens < 20                      THEN 1
           WHEN lang NOT IN ('en', 'es', 'de')     THEN 2
           WHEN 2 * n_uniq < n_tokens              THEN 3
           WHEN 25 * n_stop < n_tokens             THEN 4
           ELSE 5
         END AS stage_idx,
         CASE
           WHEN n_tokens < 20                      THEN 'short'
           WHEN lang NOT IN ('en', 'es', 'de')     THEN 'lang'
           WHEN 2 * n_uniq < n_tokens              THEN 'repetitive'
           WHEN 25 * n_stop < n_tokens             THEN 'low_stopword'
           ELSE 'pass'
         END AS stage
  FROM feat
)
SELECT stage_idx, stage,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT)  AS total_chars
FROM staged
GROUP BY stage_idx, stage
ORDER BY stage_idx
"""


@register("p28_filter_cascade", oracle=_p28(False), tags=("pipeline", "text", "quality"))
def p28_filter_cascade(spark, sf_dir):
    """Quality-filter cascade funnel (see _p28).

    Scale shape: one codegen projection computes every per-document
    feature (the arrays are built once and all stages read them), the
    CASE attribution is branch-per-row, and the only shuffle is the
    5-group aggregate — partial-aggregating, so 100 TB of documents
    reduces map-side to 5 rows per task.  This is the cheapest possible
    corpus report: scan speed, constant output.
    """
    return spark.sql(_p28(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t15 — token concentration profile (head-heaviness per language)
# ---------------------------------------------------------------------------


def _t15(spark_dialect: bool) -> str:
    """Dual-dialect builder for the per-language token-concentration
    profile: total token occurrences, distinct types, and the exact-ppm
    share captured by the top-10 / top-100 tokens (count DESC, token ASC
    tiebreak — fully deterministic rank).

    The head-heaviness audit behind tokenizer and mixing decisions: a
    lang slice whose top-100 tokens carry most of the mass is boilerplate
    or template spam, not natural text (natural corpora follow Zipf —
    heavy but not degenerate heads).  Shares are exact integer ppm
    (bigint multiply + floor division in both engines) so the driver
    value-hash holds.

    Scale shape: ONE exploded-token shuffle into the (lang, tok) partial-
    aggregating count (the t14 pattern — 100 TB of text reduces map-side
    to the vocabulary), then a window over the vocab-bounded count table
    partitioned by lang, then a |langs|-row aggregate.  The document
    bodies never ride a shuffle.
    """
    if spark_dialect:
        tok_src = (
            "SELECT lang, tok FROM {documents} "
            "LATERAL VIEW explode(split(text, ' ')) AS tok "
            "WHERE text IS NOT NULL"
        )
        idiv = "DIV"
    else:
        tok_src = (
            "SELECT lang, tok FROM documents, "
            "unnest(string_split(text, ' ')) AS u(tok) WHERE text IS NOT NULL"
        )
        idiv = "//"
    return f"""
WITH toks AS ({tok_src}),
counts AS (
  SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok
),
ranked AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rnk
  FROM counts
)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT)  AS n_tokens,
       CAST(COUNT(*) AS BIGINT)  AS n_types,
       CAST(SUM(CASE WHEN rnk <= 10 THEN cnt ELSE 0 END) * 1000000
            {idiv} SUM(cnt) AS BIGINT) AS top10_ppm,
       CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) * 1000000
            {idiv} SUM(cnt) AS BIGINT) AS top100_ppm
FROM ranked
GROUP BY lang
ORDER BY lang
"""


@register("t15_token_concentration", oracle=_t15(False), tags=("pipeline", "text"))
def t15_token_concentration(spark, sf_dir):
    """Per-language token-concentration profile (see _t15): the Zipf-head
    audit — how much of each lang slice's token mass its top-10/top-100
    tokens capture, in exact ppm."""
    return spark.sql(_t15(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p33 — repeated-span scrubbing (cross-doc boilerplate REMOVAL, not scoring)
# ---------------------------------------------------------------------------

_P33_NG = 5  # span length (tokens)
_P33_T = 3  # a span is boilerplate when >= this many distinct docs carry it


def _p33(spark_dialect: bool) -> str:
    """Dual-dialect builder for cross-document repeated-span scrubbing.

    t10/t11 SCORE how much of a document is shared; p33 performs the
    TRANSFORMATION the curation pipeline actually wants: remove every
    token covered by any 5-token span that appears in >= 3 distinct
    documents (headers, navigation chrome, license blocks), and emit the
    scrubbed text's digest plus removal counts — the exact-substring
    dedup pass of a pretraining pipeline, at span granularity.

    Scale shape: span hashes are 60-bit longs map-side (the t10/t11
    discipline — no gram text ever shuffles); the frequent-span set is
    corpus-bounded (GROUP BY hash HAVING >= T) and joins back to start
    positions by hash equi-join; per-token coverage is a per-doc window
    (``MAX(flag) OVER (ROWS 4 PRECEDING..CURRENT)``) — no position
    range-join; reassembly is an ordered string aggregate per doc.  Two
    narrow shuffles (hash-count, doc window) + one equi-join.
    """
    from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark

    ng, t_ = _P33_NG, _P33_T
    if spark_dialect:
        # The earlier Spark formulation exploded EVERY token position
        # (tokpos), joined the frequent starts back row-per-token,
        # shuffled all token rows into a per-doc window for the coverage
        # flag, and reassembled with an ordered string_agg — three
        # token-granular passes (its plan: a Generate over every token, a
        # left-outer BroadcastHashJoin per token row, an Exchange into a
        # per-doc Window, then two ObjectHashAggregates) whose shuffles
        # carried the token text.  But coverage is just
        # the union of fixed-length intervals [s, s+5) over the
        # FREQUENT starts, which are corpus-rare: collect each doc's
        # sorted start list (ps) once, and both outputs fall out of
        # per-doc array expressions —
        #   n_removed = sum over consecutive starts of least(ng, s - p)
        #     (fixed-length interval union size),
        #   kept = the inter-interval gap slices of tk, flattened —
        # so after `starts` the only shuffles are the freq aggregate,
        # one (doc_id, i)-narrow collect_list, and the final sort; no
        # token text ever shuffles and the per-doc work is O(n + |ps|).
        # The DuckDB oracle keeps the window formulation — the driver
        # hash proves the equivalence.
        toks = "split(text, ' ')"
        gram = md5int_spark(f"concat_ws(' ', slice(tk, i, {ng}))")
        starts_src = (
            f"SELECT doc_id, i, {gram} AS g FROM toks"
            f" LATERAL VIEW explode(sequence(1, size(tk) - {ng - 1})) sx AS i"
            f" WHERE size(tk) >= {ng}"
        )
        digest = md5int_spark("kept")
        return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tk FROM {{documents}} WHERE text IS NOT NULL
),
starts AS (
  {starts_src}
),
freq AS (
  SELECT g FROM starts GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {t_}
),
fsdoc AS (
  SELECT s.doc_id, array_sort(collect_list(s.i)) AS ps
  FROM starts s JOIN freq f ON s.g = f.g
  GROUP BY s.doc_id
),
scrub AS (
  SELECT t.doc_id, size(t.tk) AS n_tokens,
         coalesce(p.ps, cast(array() as array<int>)) AS ps, t.tk AS tk
  FROM toks t LEFT JOIN fsdoc p ON t.doc_id = p.doc_id
),
agg AS (
  SELECT doc_id, n_tokens,
         aggregate(
           zip_with(ps, slice(concat(array({1 - ng}), ps), 1, size(ps)),
                    (s, p) -> least({ng}, s - p)),
           0, (acc, x) -> acc + x) AS n_removed,
         concat_ws(' ', flatten(
           zip_with(concat(ps, array(n_tokens + 1)), concat(array({1 - ng}), ps),
                    (s, p) -> slice(tk, p + {ng}, greatest(s - p - {ng}, 0))))) AS kept
  FROM scrub
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST({digest} AS BIGINT) AS kept_digest,
       n_removed > 0 AS changed
FROM agg
ORDER BY doc_id
"""
    toks = "string_split(text, ' ')"
    gram = md5int_duck(f"array_to_string(tk[i:i+{ng - 1}], ' ')")
    starts_src = (
        f"SELECT doc_id, unnest(range(1, len(tk) - {ng - 2})) AS i,"
        f" unnest(list_transform(range(1, len(tk) - {ng - 2}), i -> {gram})) AS g"
        f" FROM toks WHERE len(tk) >= {ng}"
    )
    tokpos_src = (
        "SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i,"
        " unnest(tk) AS tok FROM toks"
    )
    kept_agg = "string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY i)"
    digest = md5int_duck("COALESCE(kept, '')")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tk FROM documents WHERE text IS NOT NULL
),
starts AS (
  {starts_src}
),
freq AS (
  SELECT g FROM starts GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {t_}
),
fstart AS (
  SELECT s.doc_id, s.i FROM starts s JOIN freq f ON s.g = f.g
),
tokpos AS (
  {tokpos_src}
),
cov AS (
  SELECT t.doc_id, t.i, t.tok,
         MAX(CASE WHEN fs.i IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY t.doc_id ORDER BY t.i
                 ROWS BETWEEN {ng - 1} PRECEDING AND CURRENT ROW) AS covered
  FROM tokpos t
  LEFT JOIN fstart fs ON t.doc_id = fs.doc_id AND t.i = fs.i
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         SUM(covered) AS n_removed,
         {kept_agg} AS kept
  FROM cov GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST({digest} AS BIGINT) AS kept_digest,
       n_removed > 0 AS changed
FROM agg
ORDER BY doc_id
"""


def _parallelized(spark, sf_dir: str, name: str):
    """Table ``name``, repartitioned across the session's cores when its
    layout is unsplittable — the optimization guide's §2.5 remedy ("one
    huge unsplittable file … repartition immediately after the read").

    Parquet scans parallelize at row-group granularity, and the small-SF
    testdata ships every table as ONE file with ONE row group, so every
    pre-exchange stage runs on a single core.  Whether that matters is
    the consumer's question: measured same-session interleaved at
    sf0.1/32 cores, p33's md5-per-gram pipeline won ~2x
    (off {3.35, 2.76, 2.88, 2.62} s vs on {1.90, 1.41, 1.34, 1.42} s),
    while every cheap-per-row consumer lost the cost of the extra
    exchange (q01 0.78→1.19, q05 0.97→1.44, t01 0.93→1.52, p01
    0.28→0.51, p06 0.74→0.91, p38 1.48→1.89, p20 1.07→1.39) — so only
    p33 takes it.

    The trigger is the MEASURED layout, never a scale factor: fewer row
    groups than session parallelism, with at least 32 rows per core so
    toy fixtures keep the plain scan; sharded replicas and real datasets
    (thousands of row groups) keep it too.  Pruning and filter pushdown
    both pass through the round-robin Repartition, so the exchange
    carries only the columns the query reads.
    """
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    try:
        units, rows = _scan_units(f"{sf_dir}/{name}.parquet")
    except Exception:  # noqa: BLE001 — layout probing must never break a read
        units, rows = par, 0
    return df.repartition(par) if units < par and rows >= 32 * par else df


@register(
    "p33_span_scrub", oracle=_p33(False), tags=("pipeline", "text", "dedup"), bench=True
)
def p33_span_scrub(spark, sf_dir):
    """Cross-document repeated-span scrubbing (see _p33): REMOVE every
    token covered by a 5-token span shared by >= 3 documents and emit
    the scrubbed text's digest — the transformation twin of t10/t11's
    boilerplate scores.  Beyond-reference: extends the pipeline dedup
    family with span-granular exact-substring removal.

    The documents frame takes the unsplittable-input repartition
    (:func:`_parallelized`): p33's per-row cost is ~n_tokens md5+conv
    evaluations per document (once per gram start, in BOTH subtree copies
    of the starts CTE), so a single-row-group input file pinned the whole
    gram pass to one core."""
    return spark.sql(_p33(True), documents=_parallelized(spark, sf_dir, "documents"))
