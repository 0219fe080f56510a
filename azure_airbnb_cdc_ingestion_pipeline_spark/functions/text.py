"""Text-analysis function family for LLM training-data pipelines.

The reference has no text operators (its scalar surface is dates/concat,
SURVEY.md §2.6); this module is a charter extension: tokenization, token
counting, quality scoring, language-ID, and document fingerprinting over
the `documents` table — the building blocks of a corpus-preparation
pipeline.

Design rules:
- Everything is built from JVM-side `pyspark.sql.functions` (no Python
  UDFs) so the hot path stays inside whole-stage codegen at 100 TB.
- Every computation is deterministic and expressible in ANSI SQL, so each
  query ships with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# English stopwords used for quality scoring (tiny on purpose: the score
# formula, not the lexicon, is the operator).
EN_STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "on", "for")

# Per-language marker lexicons for the n-gram/lexicon language-ID
# heuristic. Deterministic argmax with a fixed preference order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "los", "las", "y", "es", "una"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
    "zh": ("的", "是", "了", "在", "我", "他"),
}
LANG_ORDER = ("en", "de", "es", "fr", "zh")  # tie-break preference


def lit_array(values, sql_type: str) -> Column:
    """Literal array Column built as ONE SQL ``expr()`` — the
    ``F.array(*[F.lit(v) ...])`` spelling costs one py4j roundtrip PER
    ELEMENT (~1 ms each; a 64-wide literal array ≈ 0.2 s, and the
    16×64 JL sign matrix ≈ 0.9 s of pure driver chatter per query
    build — r10, guide §1.2: this is driver time charged to every
    query wall). The cast pins the exact element type the per-element
    spelling produced (hash functions are type-sensitive); value parity
    incl. min-long and double literals is pinned in tests."""
    body = ", ".join(
        repr(float(v)) + "D" if isinstance(v, float) else str(int(v))
        for v in values
    )
    return F.expr(f"array({body})").cast(f"array<{sql_type}>")


def tokens(col: str | Column, lower: bool = True) -> Column:
    """Whitespace tokenization. `split` on single spaces matches the
    corpus format; swap the pattern for `\\s+` on raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c) if lower else c, " ")


def bpe_ish_tokens(col: str | Column) -> Column:
    """BPE-ish regex tokenization: alpha runs, digit runs, single
    punctuation marks — the standard pre-tokenizer shape."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def stopword_count(col: str | Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Number of token OCCURRENCES in the stopword set (not distinct)."""
    arr = tokens(col)
    return F.size(F.filter(arr, lambda t: t.isin(*stopwords)))


def quality_score(col: str | Column) -> Column:
    """Deterministic [0,1] quality score: length saturation (50%), stopword
    ratio (25%), average-token-length saturation (25%). The exact formula
    is arbitrary but fixed — it is the *shape* (cheap columnar heuristics
    composed declaratively) that scales to 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    n_alpha = F.length(F.regexp_replace(c, " ", "")).cast("double")
    avg_len = n_alpha / n_tok
    stop_ratio = stopword_count(c).cast("double") / n_tok
    raw = (
        F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5
        + stop_ratio * 0.25
        + F.least(F.lit(1.0), avg_len / F.lit(8.0)) * 0.25
    )
    # truncate (not round) to 4dp: floor(x*1e4)/1e4 is decimal-boundary-free,
    # so it agrees bit-for-bit with any engine computing the same double
    return F.floor(raw * 10000) / 10000


def _marker_count(arr: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(arr, lambda t: t.isin(*words)))


def lang_scores(col: str | Column) -> dict[str, Column]:
    """Marker-occurrence count per language."""
    arr = tokens(col)
    return {lang: _marker_count(arr, words) for lang, words in LANG_MARKERS.items()}


def detect_language(col: str | Column) -> Column:
    """Lexicon-overlap language ID: argmax of marker counts, ties broken
    by LANG_ORDER. One pass over the token array per language — columnar,
    no UDF, no shuffle."""
    scores = lang_scores(col)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    out: Column = F.lit("und")
    # build the when-chain in reverse so earlier languages win ties
    for lang in reversed(LANG_ORDER):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("und")).otherwise(out)


def normalize_text(col: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def fingerprint(col: str | Column) -> Column:
    """Content fingerprint = md5 of the normalized text. Used as the
    grouping key for exact dedup (shorter shuffle key than the document
    itself at 100 TB)."""
    return F.md5(normalize_text(col))


# PII patterns kept to portable regex (char classes + bounded repetition
# only — no lookarounds, no \d shorthand) so the same pattern string runs
# identically under Java regex (Spark) and RE2 (DuckDB `regexp_replace ...
# 'g'`). Order matters: emails first, else the phone rule could eat the
# digits inside an address's domain.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("[+]?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
)


def redact_pii(col: str | Column) -> Column:
    """Training-corpus PII scrub: replace emails/phones/SSNs/IPv4s with
    typed placeholder tags. Pure `regexp_replace` chain — stays inside
    whole-stage codegen (no UDF), so at 100 TB it is a map-only pass with
    zero shuffle and the regexes run JVM-side per batch."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def word_ngrams(col: str | Column, n: int = 2) -> Column:
    """All word n-grams as strings, occurrence-preserving (NOT distinct —
    frequency analysis needs multiplicity; `shingles` is the distinct
    set variant). Empty array for docs shorter than n tokens."""
    arr = tokens(col)
    joined = F.transform(
        F.sequence(F.lit(1), F.size(arr) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
    )
    return F.when(F.size(arr) >= n, joined).otherwise(
        F.array().cast("array<string>")
    )


def shingles(col: str | Column, n: int = 3) -> Column:
    """Distinct n-gram token shingles (strings), the unit of set-based
    near-dup similarity. Empty array for docs shorter than n tokens."""
    arr = tokens(col)
    joined = F.transform(
        F.sequence(F.lit(1), F.size(arr) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
    )
    return F.when(F.size(arr) >= n, F.array_distinct(joined)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(col: str | Column, n: int = 3) -> Column:
    """Distinct n-gram shingles as 64-bit hashes: token-level xxhash64,
    then each shingle chains its n consecutive token hashes through
    xxhash64(acc, next) — order-sensitive, and free of raw long
    arithmetic, so it runs under default-ANSI sessions (a salted
    multiply-add mix here raises ARITHMETIC_OVERFLOW when
    spark.sql.ansi.enabled=true, Spark 4's default). Built with
    `zip_with` over shifted slices — O(n·T) per doc with no per-position
    string construction (string shingles cost O(n·T) *string bytes* plus
    allocation; this is ~3x cheaper on the posting scan). Set semantics
    equal `shingles` modulo 2^-64 hash collisions, so Jaccard over these
    equals Jaccard over the strings. NB: slices are zip_with ARGUMENTS
    (evaluated once per row) — referencing the token-hash array inside a
    lambda body would re-evaluate it per element (no CSE inside
    higher-order functions)."""
    th = F.transform(tokens(col), lambda t: F.xxhash64(t))
    length = F.greatest(F.size(th) - (n - 1), F.lit(0))
    acc = F.slice(th, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(th, j + 1, length), lambda x, y: F.xxhash64(x, y)
        )
    return F.when(F.size(th) >= n, F.array_distinct(acc)).otherwise(
        F.array().cast("array<bigint>")
    )


def repetition_ratios(toks: Column, n: int = 3) -> dict[str, Column]:
    """Intra-document repetition quality signals: the fraction of
    duplicated tokens and duplicated n-grams within one document — the
    standard boilerplate/spam detector (high dup ratio → templated or
    degenerate text). `toks` MUST be a bound token-array column (select
    `tokens(...)` into a column first): higher-order-function lambda
    bodies get no common-subexpression elimination, so passing the raw
    `split(...)` expression would re-tokenize per element.

    Returns columns keyed n_tokens / n_ngrams / dup_token_ratio /
    dup_ngram_ratio; ratios 4-dp truncated (engine-portable). Map-only —
    no shuffle, no UDF; at 100 TB this is a free rider on any scan."""
    ngr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    n_tok = F.size(toks).cast("long")
    n_ngr = F.size(ngr).cast("long")

    def _trunc(x: Column) -> Column:
        return F.floor(x * 10000) / 10000

    return {
        "n_tokens": n_tok,
        "n_ngrams": n_ngr,
        "dup_token_ratio": _trunc(
            1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok
        ),
        "dup_ngram_ratio": _trunc(
            1.0 - F.size(F.array_distinct(ngr)).cast("double") / n_ngr
        ),
    }


# -- HTML → main-content text (r10, VERDICT r9 #6) --------------------------

# Block-level containers that are boilerplate BY ROLE on the modern web
# (navigation, chrome, sidebars) — stripped wholesale, content included.
_HTML_CHROME = "script|style|nav|header|footer|aside"
# closers that imply a line break in the rendered text
_HTML_BREAKS = r"(?i)<(?:br|hr)\s*/?>|</(?:p|div|li|h[1-6]|tr|ul|ol|table|blockquote|section|article)\s*>"


def html_extract_text(col: str | Column, min_line_chars: int = 30) -> Column:
    """Main-content text from raw HTML — the trafilatura/jusText shape
    reduced to what pure JVM built-ins can express (VERDICT r9 #6: web
    corpora arrive as markup; `text_boilerplate_ratio`/`quality_score`
    assumed clean text):

    1. drop chrome containers wholesale (`script/style/nav/header/
       footer/aside`, tag-balanced via backreference) and comments;
    2. map block-level closers to newlines (layout → line structure);
    3. strip remaining tags; decode the six dominant entities
       (``&amp;`` LAST so escaped text round-trips exactly);
    4. line-level boilerplate gate: trim each line, keep lines with
       ≥ ``min_line_chars`` chars — the jusText "short block =
       boilerplate" heuristic (nav crumbs, share buttons, copyright
       lines die here even outside chrome containers).

    Pure `regexp_replace`/`split`/`filter`/`array_join` — whole-stage
    codegen, no Python in the path, scale-indifferent. NOT a browser:
    no JS, no CSS visibility, no encoding sniff (bytes must already be
    decoded). Deterministic, DuckDB-expressible (the oracle gate in
    plans/text.py)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(
        c, f"(?is)<({_HTML_CHROME})\\b[^>]*>.*?</\\1\\s*>", ""
    )
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", "")
    c = F.regexp_replace(c, _HTML_BREAKS, "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", "")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    lines = F.transform(F.split(c, "\n"), lambda x: F.trim(x))
    kept = F.filter(lines, lambda x: F.length(x) >= min_line_chars)
    return F.array_join(kept, "\n")
