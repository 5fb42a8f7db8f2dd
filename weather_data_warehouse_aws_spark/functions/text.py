"""Text-analysis column builders (north-star: LLM-training-data pipeline).

Everything here is JVM-side (`pyspark.sql.functions` + SQL higher-order
functions) — no Python UDFs in the hot path. Each builder has a matching
SQL-fragment generator so the DuckDB oracle uses the *same constants*
(stopword lists, hash constants) — one source of truth, two dialects.

Portable hashing: both engines lack a shared 64-bit hash builtin
(Spark xxhash64 ≠ DuckDB hash), so cross-engine-checkable hashes are built
from md5 hex prefixes: Spark ``conv(substring(md5(x),1,15),16,10)`` ==
DuckDB ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)`` (60 bits, verified
bit-exact). Engine-internal code that doesn't need oracle parity should
prefer ``xxhash64`` (faster, no string round-trip).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- constants
STOPWORDS_EN = ("the", "a", "an", "of", "and", "in", "to", "is", "it", "for")

# marker vocabularies for the lang-id heuristic; deterministic tie-break is
# the tuple order below (first wins)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "des"),
    "zh": ("的", "是", "了", "在", "和"),
}

PUNCT_CLASS = "[.,!?;:]"

# MinHash: h_i(x) = (a_i * base(x) + b_i) mod P with 31-bit arithmetic so the
# products stay < 2^62 (DuckDB raises on BIGINT overflow; Spark would wrap).
MINHASH_P = 2147483647  # 2^31 - 1, prime


def minhash_constants(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs shared by Spark and oracle SQL."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P)) for _ in range(k)]


# ------------------------------------------------------- portable 60-bit hash
def portable_hash60(col: Column) -> Column:
    """md5-prefix hash, bit-identical to `portable_hash60_sql` in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def portable_hash60_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# ------------------------------------------------------------------ tokenize
def tokens(col: Column) -> Column:
    """Whitespace tokenization; trailing/leading whitespace safe."""
    return F.split(F.trim(col), r"\s+")


def tokens_sql(expr: str) -> str:
    return rf"regexp_split_to_array(trim({expr}), '\s+')"


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS INT)"


def bind_tokens(text_expr: str, body: str) -> str:
    """Spark SQL: `body` evaluated with the lambda variable `toks` bound to
    the whitespace tokens of `text_expr`, split ONCE per row.

    A SQL lambda re-evaluates every expression inlined in its body once
    per element, and Spark does not hoist it out: `transform(seq, i ->
    slice(split(text, ..), i, n))` re-splits the whole text at every
    position, O(L²) in document length. Binding the split array as the
    single element of a one-element `transform` evaluates it once; the
    body then reads the bound array. The result is the body's value
    unchanged, null text included (the body sees `toks` = NULL exactly
    where the inline spelling saw a NULL split)."""
    return (
        rf"element_at(transform(array(split(trim({text_expr}), '\\s+')), "
        f"toks -> {body}), 1)"
    )


# BPE-style pretokenizer (GPT-2's pattern family), restricted to the
# Java-regex ∩ RE2 subset both engines share: common contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs. No lookahead
# (RE2 lacks it), ASCII classes (not \p{L}) so both engines agree on every
# byte. Counting these pretokens approximates LLM token budgets far better
# than whitespace words (punctuation and contractions split out).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_pretoken_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_PRETOKEN_RE))


def bpe_pretoken_count_sql(expr: str) -> str:
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS INT)"


# ------------------------------------------------------------- text metrics
def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))


def punct_count_sql(expr: str) -> str:
    return (
        f"length({expr}) - length(regexp_replace({expr}, '{PUNCT_CLASS}', '', 'g'))"
    )


def stopword_count_expr(text_expr: str, words: tuple[str, ...] = STOPWORDS_EN) -> Column:
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        rf"size(filter(split(trim({text_expr}), '\\s+'), "
        rf"t -> array_contains(array({arr}), t)))"
    )


def stopword_count_sql(expr: str, words: tuple[str, ...] = STOPWORDS_EN) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter({tokens_sql(expr)}, "
        f"t -> list_contains([{arr}], t))) AS INT)"
    )


# -------------------------------------------------------------- fingerprint
def normalized_text(col: Column) -> Column:
    """lower → strip punctuation → collapse whitespace (rolling-hash-style
    document fingerprint normalization)."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), PUNCT_CLASS, ""), r"\s+", " ")
    )


def normalized_text_sql(expr: str) -> str:
    return (
        rf"trim(regexp_replace(regexp_replace(lower({expr}), "
        rf"'{PUNCT_CLASS}', '', 'g'), '\s+', ' ', 'g'))"
    )


def fingerprint(col: Column) -> Column:
    return F.md5(normalized_text(col))


def fingerprint_sql(expr: str) -> str:
    return f"md5({normalized_text_sql(expr)})"


# ---------------------------------------------------------- word shingles
def word_ngrams(text_expr: str, n: int) -> Column:
    """Every word n-gram in position order, duplicates kept; a doc with
    fewer than n tokens yields a single n-gram of all its tokens (slice()
    is 1-indexed). Tokenized once per row (`bind_tokens`)."""
    return F.expr(bind_tokens(
        text_expr,
        f"transform(sequence(1, greatest(size(toks) - {n} + 1, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {n})))",
    ))


def word_shingles(text_expr: str, n: int) -> Column:
    """Distinct word n-gram shingles as an array column (SQL HOFs only).

    sequence/generate_series bounds chosen so a doc with fewer than n
    tokens yields a single shingle of all its tokens. The token array is
    bound once per row (`word_ngrams` → `bind_tokens`): with the split
    inlined in the per-position lambda, every document was re-tokenized
    once per shingle position, O(L²) in its length.
    """
    return F.array_distinct(word_ngrams(text_expr, n))


def word_shingles_sql(expr: str, n: int) -> str:
    toks = tokens_sql(expr)
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - {n} + 1, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' ')))"
    )


# ------------------------------------------------------------- PII scrubbing
# Patterns stay inside the Java-regex ∩ RE2 intersection (char classes, \d,
# bounded repeats, \b; NO lookaround, NO backrefs) so Spark and DuckDB match
# the same spans. Ordered dict: redaction applies in this order, and ip
# before phone so '10.0.42.42' is consumed as an IP, not half-eaten digits.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern — JVM regexp_count."""
    return F.regexp_count(col, F.lit(PII_PATTERNS[kind])).cast("int")


def pii_count_sql(expr: str, kind: str) -> str:
    pat = PII_PATTERNS[kind].replace("'", "''")
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS INT)"


def redact_pii(col: Column) -> Column:
    """Replace every PII span with a typed placeholder like <EMAIL>."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def redact_pii_sql(expr: str) -> str:
    out = expr
    for kind, pat in PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{pat.replace(chr(39), chr(39)*2)}', '<{kind.upper()}>', 'g')"
    return out


# ------------------------------------------------- markup stripping (web text)
# Java-regex ∩ RE2 subset only (no lookarounds/backrefs), like PII_PATTERNS.
# A tag opens with a letter or '/', so bare comparators ('5 < 6 and 7 > 3')
# survive; comments/doctype are out of this subset (note, not a bug).
_TAG_RE = r"</?[A-Za-z][^<>]*>"
# the handful of entities that dominate real web text; '&amp;' must unescape
# LAST so '&amp;lt;' becomes '&lt;' (double-escaped stays escaped-once, the
# standard single-pass behavior)
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def strip_markup(col: Column) -> Column:
    """Remove HTML/XML tags, unescape common entities, collapse the
    whitespace the removed tags leave behind — the first transform of every
    web-corpus curation pipeline (C4/RefinedWeb-style), all JVM regexp."""
    out = F.regexp_replace(col, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_markup_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{_TAG_RE}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        ch_sql = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{ch_sql}')"
    return rf"trim(regexp_replace({out}, '\s+', ' ', 'g'))"


def markup_tag_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(_TAG_RE)).cast("int")


def markup_tag_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{_TAG_RE}')) AS INT)"
