"""Text-analysis kernels over the ``documents`` table — language-ID
heuristic, quality scoring, token counting, document fingerprinting
(training-data-pipeline operators). All pure Catalyst expressions with
exact ANSI-SQL mirrors for the DuckDB oracle.

The reference's nearest analog is its per-row normalization pass
(clean_numeric / normalize_rating — api/src/etl/base/transformer.py:
78-95,210-219): scalar text → derived signal, nulls on failure.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny function-word inventories for the n-gram/stopword language
# heuristic (public linguistic commonplaces)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "les"],
    "es": ["el", "los", "de", "y", "es", "un", "una", "que"],
    "it": ["il", "di", "che", "e", "un", "per", "sono", "della"],
    "pt": ["o", "os", "de", "e", "um", "uma", "que", "não"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "niet"],
}


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (size of split array)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: count of alnum runs + standalone
    punctuation marks (regexp match count — the standard cheap
    tokenizer-length estimate)."""
    return F.regexp_count(text, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"))


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are function words of ``lang``.

    Counted with one regexp scan instead of a per-token higher-order
    ``filter`` lambda: a token (maximal run between single spaces after
    padding both ends) equals a stopword iff the literal word appears
    with a space on each side — zero-width lookarounds so adjacent
    matches ("the the") share their boundary space. Integer-identical
    to ``size(filter(split(text,' '), t -> t in stopwords))`` (the
    words are regex-literal), but whole-stage codegen instead of an
    interpreted lambda per token."""
    alt = "|".join(map(re.escape, STOPWORDS[lang]))
    return F.regexp_count(F.concat(F.lit(" "), text, F.lit(" ")),
                          F.lit(f"(?<= )(?:{alt})(?= )"))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit rate;
    'unknown' when nothing matches. Deterministic tie-break by the
    fixed language order en > de > fr (greatest-when chain)."""
    scores = {lg: stopword_hits(text, lg) for lg in STOPWORDS}
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("unknown"))
    for lg in STOPWORDS:  # fixed order = deterministic tie-break
        expr = expr.when(scores[lg] == best, F.lit(lg))
    return expr


# Unicode-script ranges for the pre-classifier tier, in ROUTING ORDER:
# kana must outrank CJK ideographs (Japanese mixes kana + kanji;
# Chinese has ideographs only), hangul is unambiguous, then the
# single-script alphabets. Each entry: (lang, char-class range —
# literal endpoints so the identical pattern runs under Java regex
# AND RE2/DuckDB).
SCRIPT_RANGES = [
    ("ja", f"{chr(0x3040)}-{chr(0x30FF)}"),  # hiragana + katakana
    ("ko", f"{chr(0xAC00)}-{chr(0xD7A3)}"),  # hangul syllables
    ("zh", f"{chr(0x4E00)}-{chr(0x9FFF)}"),  # CJK unified ideographs
    ("ru", f"{chr(0x0400)}-{chr(0x04FF)}"),  # cyrillic
    ("ar", f"{chr(0x0600)}-{chr(0x06FF)}"),  # arabic
    ("el", f"{chr(0x0370)}-{chr(0x03FF)}"),  # greek
]

# dominance threshold: a script claims the text when its chars exceed
# 30% of all chars — integer-compared (10·count > 3·len) so the Spark
# expression and the SQL oracle agree exactly
SCRIPT_DOMINANCE_NUM, SCRIPT_DOMINANCE_DEN = 3, 10


def lang_id_scripted(text: Column) -> Column:
    """Two-tier language ID: a Unicode-block pre-classifier routes
    non-Latin scripts directly (stopword lists are useless there —
    the 7-language Latin heuristic would answer 'unknown' for ALL of
    CJK/Cyrillic/Arabic/Greek), and Latin-script text falls through to
    the stopword argmax (``lang_id``). A script must be dominant
    (> 30% of chars) to claim the text, so a Latin document quoting a
    few foreign words still routes to the stopword tier."""
    n = F.length(text)
    expr = None
    for lg, rng in SCRIPT_RANGES:
        cnt = F.regexp_count(text, F.lit(f"[{rng}]"))
        cond = cnt * SCRIPT_DOMINANCE_DEN > n * SCRIPT_DOMINANCE_NUM
        expr = F.when(cond, F.lit(lg)) if expr is None else \
            expr.when(cond, F.lit(lg))
    return expr.otherwise(lang_id(text))


def quality_metrics(text: Column) -> list[Column]:
    """Quality-score feature columns: n_chars, n_tokens, mean token
    length, punctuation ratio, stopword(en) ratio, uppercase ratio."""
    n_chars = F.length(text)
    n_tok = token_count(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    sw_ratio = F.round(stopword_hits(text, "en") / n_tok, 6)
    return [
        n_chars.alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        F.round(n_chars / n_tok, 6).alias("mean_token_len"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio"),
        F.round(upper / n_chars, 6).alias("upper_ratio"),
    ]


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length band + stopword evidence −
    punctuation noise (deterministic linear blend; the weights are the
    operator contract, mirrored in the oracle SQL)."""
    n_tok = token_count(text)
    len_band = F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
    sw = F.round(stopword_hits(text, "en") / n_tok, 6)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")) / F.length(text)
    return F.round(F.least(F.lit(1.0), len_band + sw * 2.0 - punct), 6)


def fingerprint(text: Column, prefix_chars: int = 64) -> Column:
    """Document fingerprint: sha256 of the whitespace-collapsed,
    lowercased first ``prefix_chars`` chars — the cheap rolling-hash
    analog used for fast candidate grouping before exact dedup."""
    norm = F.substring(F.lower(F.regexp_replace(text, r"\s+", " ")), 1, prefix_chars)
    return F.sha2(norm, 256)


# PII scrubbing — the standard pretraining redaction pass. Patterns are
# deliberately restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs, greedy
# quantifiers only. Order matters: EMAIL before PHONE (an address's
# digit runs must not be half-eaten as a phone number first).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d -]{7,}\d", "<PHONE>"),
]


def pii_counts(text: Column) -> list[Column]:
    """Per-kind PII match counts (n_email / n_ipv4 / n_phone), counted
    on the progressively-redacted text exactly as ``redact_pii``
    rewrites it, so counts and redaction always agree."""
    out = []
    cur = text
    for kind, pat, token in PII_PATTERNS:
        out.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token)
    return out


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its typed placeholder token, in
    PII_PATTERNS order (single pass per kind; pure Catalyst)."""
    cur = text
    for _kind, pat, token in PII_PATTERNS:
        cur = F.regexp_replace(cur, pat, token)
    return cur
