"""Text analysis operators: language-ID heuristic, quality scoring,
token counting, document fingerprinting.

All pure Column algebra (regexp / array higher-order functions) —
per-document work with zero shuffles; these run at scan speed on 100 TB.
Determinism notes: every score is derived from exact integer counts with
a single final double expression, so oracle SQL can reproduce results
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact marker-word lists for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "with"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "pour"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "en", "para"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "mit", "für", "von"),
}

# BPE-ish token pattern: alpha runs, digit runs, or any single non-space.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

FINGERPRINT_PRIME = 1_000_000_007


def word_tokens(c: Column) -> Column:
    return F.split(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))), " ")


def whitespace_token_count(c: Column) -> Column:
    return F.size(word_tokens(c))


def regex_token_count(c: Column) -> Column:
    """Token count under the BPE-ish regex (sub-word-ish granularity)."""
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), 0))


def _marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(marker_arr, t)))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    tokens = word_tokens(c)
    return _marker_hits(tokens, LANG_MARKERS[lang]).cast("double") / F.size(tokens).cast("double")


def language_hits(c: Column) -> Column:
    """Per-language marker-hit counts as one struct — STAGE this with
    ``withColumn`` before deriving the argmax, so each count (and the
    tokenize) is computed once per row."""
    tokens = word_tokens(c)
    return F.struct(
        *[_marker_hits(tokens, m).alias(f"h_{code}") for code, m in LANG_MARKERS.items()]
    )


def language_from_hits(h: Column) -> Column:
    """First-max-wins argmax over a (staged) ``language_hits`` struct;
    'und' when no marker hits at all.  Ties break by language-code scan
    order (en < fr < es < de).

    Flat CASE chain, not a running-best fold: branch i fires iff
    h_i > 0 and h_i >= every LATER h_j.  Earlier languages need no
    back-comparison — if h_i were beaten by an earlier h_j, that j's
    branch would already have fired (h_j > h_i >= all later ⇒ j's
    condition held).  A when/otherwise accumulator instead embeds
    itself per round — 2^n copies of the hit subtrees, the exact plan
    blowup tests/test_plans.py guards against."""
    codes = list(LANG_MARKERS)
    expr = None
    for i, code in enumerate(codes):
        hi = h[f"h_{code}"]
        cond = hi > 0
        for later in codes[i + 1 :]:
            cond = cond & (hi >= h[f"h_{later}"])
        expr = F.when(cond, F.lit(code)) if expr is None else expr.when(cond, F.lit(code))
    return expr.otherwise(F.lit("und"))


def quality_score(c: Column, target_len: int = 500) -> Column:
    """Heuristic quality in [0,1]: length saturation + stopword presence
    + alphabetic purity (weights 0.4/0.3/0.3).

    All inputs are exact integers; the score is one fixed double
    expression → bit-deterministic across engines.
    """
    n_chars = F.length(c).cast("double")
    tokens = word_tokens(c)
    n_tokens = F.size(tokens).cast("double")
    stop_hits = _marker_hits(tokens, LANG_MARKERS["en"]).cast("double")
    alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    len_term = F.least(n_chars / F.lit(float(target_len)), F.lit(1.0))
    stop_term = F.least(stop_hits / n_tokens * F.lit(3.0), F.lit(1.0))
    alpha_term = alpha_chars / n_chars
    return F.lit(0.4) * len_term + F.lit(0.3) * stop_term + F.lit(0.3) * alpha_term


def doc_fingerprint(c: Column) -> Column:
    """Order-sensitive rolling polynomial hash over words, mod p.

    word_int = first 8 md5 hex chars as int (engine-portable);
    acc = (acc*31 + word_int mod p) mod p.  Stays < 2^35 so the fold
    never overflows int64 in engines that error on overflow (DuckDB).
    """
    word_ints = F.transform(
        word_tokens(c),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % FINGERPRINT_PRIME,
    )
    return F.aggregate(
        word_ints,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % FINGERPRINT_PRIME,
    )


def ngrams_from_tokens(w: Column, n: int) -> Column:
    """ALL word n-grams from a token-array column, duplicates kept —
    the denominator of repetition metrics.  Texts shorter than n words
    yield one gram.  Still prefer a staged attribute when computing
    several gram sizes (each inlined copy re-tokenizes n+1 times).

    Nested ``zip_with`` over shifted slices, NOT ``transform`` over a
    position sequence: HOF arguments evaluate once, while a lambda that
    captures the token tree re-evaluates it per element — O(n²) per
    document with an inline split (see dedup.shingles_from_tokens)."""
    acc = w
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    full = F.slice(acc, 1, F.greatest(F.size(w) - F.lit(n - 1), F.lit(1)))
    # contract: an EMPTY token array still yields one (empty) gram,
    # matching the transform-over-positions form this replaced
    return F.when(F.size(w) == 0, F.array(F.lit(""))).otherwise(full)


def word_ngrams_all(c: Column, n: int) -> Column:
    return ngrams_from_tokens(word_tokens(c), n)


def dup_fraction_from_grams(grams: Column) -> Column:
    """Gopher-style repetition signal over a (staged) gram-array column:
    fraction of grams that are repeats of an earlier gram, 1 −
    distinct/total.  0 for clean prose, → 1 for looping boilerplate.
    Exact integer ratio → one double division, bit-reproducible in
    oracle SQL."""
    return F.lit(1.0) - (
        F.size(F.array_distinct(grams)).cast("double") / F.size(grams).cast("double")
    )


# --- PII redaction ----------------------------------------------------------

# Patterns kept to the regex subset Java (Spark) and RE2 (DuckDB, most
# engines) treat identically: character classes + bounded repetition, no
# backrefs/lookaround.  Email before ID: the local-part may contain digit
# runs that the ID pass would otherwise mangle first.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
ID_PATTERN = r"[0-9]{8,}"


def count_pii(c: Column) -> Column:
    """Struct of per-kind PII match counts (emails, long digit-run ids) —
    the audit signal; compute BEFORE redacting."""
    return F.struct(
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(ID_PATTERN), 0)).alias("n_ids"),
    )


def redact_pii(c: Column) -> Column:
    """Replace emails with <EMAIL> then long digit runs with <ID> —
    scan-speed regexp_replace, zero shuffle, order fixed so both passes
    are reproducible in any engine."""
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"), ID_PATTERN, "<ID>"
    )


# --- Unicode / whitespace canonicalization ----------------------------------

# 1:1 typographic-to-ASCII map (translate is per-codepoint, so the
# multi-char ellipsis maps to '.' — a lossy-but-standard choice).
_FANCY = "“”‘’–—…"
_PLAIN = "\"\"''--."


def normalize_unicode(c: Column) -> Column:
    """Pretraining text hygiene: smart quotes/dashes/ellipsis → ASCII,
    control chars → space, whitespace runs collapsed, trimmed.  Fixed
    pass order (translate → control-strip → collapse → trim) so any
    engine reproduces the output byte-for-byte; patterns stay in the
    Java∩RE2 regex subset (explicit \\x ranges, no property classes).
    """
    t = F.translate(c, _FANCY, _PLAIN)
    t = F.regexp_replace(t, r"[\x00-\x1F\x7F]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))
