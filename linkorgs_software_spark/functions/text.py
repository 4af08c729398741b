"""Text-analysis expressions for large-scale training-data pipelines.

These extend the reference's string toolbox (normalization + q-grams) with
the operations a 100 TB corpus pipeline needs: token counting, quality
scoring, language-ID heuristics, and document fingerprinting. Everything is
pure Catalyst (regex + array + aggregate expressions) — whole-stage codegen,
no Python in the hot path — and every formula is reproducible in ANSI SQL so
the DuckDB oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "for", "on",
    "with", "as", "by", "at", "from", "that", "this", "it", "be",
)

# tiny marker vocabularies for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokens; empty/blank text → empty array."""
    c = F.trim(_c(col))
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, r"\s+")
    )


def token_count_expr(col: Column | str) -> Column:
    return F.size(tokens_expr(col))


def bpe_ish_token_count_expr(col: Column | str) -> Column:
    """BPE-flavored token estimate: word pieces + digit runs + punct marks.

    A deterministic regex proxy for subword tokenizers: every run of <=4
    letters, each digit run, and each punctuation char counts as one token.
    """
    return F.size(
        F.regexp_extract_all(_c(col), F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def punct_ratio_expr(col: Column | str) -> Column:
    c = _c(col)
    n = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[\p{Punct}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped).cast("double") / n)


def stopword_ratio_expr(col: Column | str, stopwords=STOPWORDS_EN) -> Column:
    toks = tokens_expr(F.lower(_c(col)))
    sw = F.filter(toks, lambda t: t.isin(*stopwords))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(sw).cast("double") / F.size(toks)
    )


def quality_score_expr(col: Column | str) -> Column:
    """Composite doc-quality score in [0, 1]: length band + stopword signal
    − punctuation noise. Deterministic and SQL-portable."""
    n_tok = token_count_expr(col).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    sw = stopword_ratio_expr(col)
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    pr = punct_ratio_expr(col)
    raw = 0.5 * len_score + 0.5 * sw_score - 0.25 * pr
    return F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0))


def lang_id_expr(col: Column | str) -> Column:
    """Marker-word language heuristic: argmax of per-language marker hits.

    Ties break by language code order ('und' when nothing matches).
    """
    toks = tokens_expr(F.lower(_c(col)))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        score = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))
        cond = score > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return best_lang


# PII detection patterns, written to the RE2 ∩ Java-regex common subset
# (character classes, bounded quantifiers, \b, \d — no backrefs, no
# lookaround) so the identical pattern string runs in Spark's regexp_*
# (Java) and the DuckDB oracle's regexp_* (RE2) with identical matches.
# Patterns are mutually non-overlapping by construction (group arities
# differ), so redaction order cannot change the result.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_count_expr(col: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of one PII pattern."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(pattern), 0))


def pii_redact_expr(col: Column | str) -> Column:
    """Replace every PII match with its sentinel token, all patterns in
    the fixed ``PII_PATTERNS`` order (order is immaterial — see above —
    but fixing it keeps the oracle expression byte-comparable)."""
    out = _c(col)
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


FP_MOD = 1_000_000_007
FP_MUL = 31


def fingerprint_expr(col: Column | str) -> Column:
    """Polynomial rolling hash of the full document (mod 1e9+7, base 31).

    ``acc = (acc*31 + ascii(char)) % M`` over every character — the classic
    Rabin-Karp fingerprint; identical formula runs in the DuckDB oracle.
    """
    chars = F.regexp_extract_all(_c(col), F.lit(r"."), 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_MUL + F.ascii(ch)) % FP_MOD,
    )


def token_windows_expr(toks: Column | str, k: int, window=None) -> Column:
    """The length-``k`` windows of a token array, in order: each the
    space-joined tokens, passed through ``window`` when given (for example
    ``F.md5``). Fewer than ``k`` tokens (or a NULL array) give no window."""
    t = _c(toks)
    n = F.size(t)

    def at(i):
        w = F.concat_ws(" ", F.slice(t, i, k))
        return w if window is None else window(w)

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - k + 1), at)
    ).otherwise(F.array().cast("array<string>"))


def word_shingles_expr(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles (space-joined) — minhash/jaccard unit."""
    toks = tokens_expr(F.lower(_c(col)))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(sh)
    )
