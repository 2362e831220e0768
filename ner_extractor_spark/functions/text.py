"""Text-analysis functions for training-data pipelines (build brief):
language-ID heuristic, quality scoring, token counting, fingerprinting.
All pure built-in expressions — JVM-side, codegen-friendly, and
recomputable in ANSI SQL by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny per-language stopword lexicons for the n-gram/lexicon heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}


def tokens(col) -> Column:
    """Whitespace tokenization — the reference's free-text extractor
    (SURVEY F9); parity-critical, do not 'improve'."""
    return F.split(F.trim(col), r"\s+")


def token_count(col) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col)))


# GPT-2-flavoured piece pattern: letter runs, single digits, single
# punctuation marks.  Deliberately lookaround-free so the same pattern
# runs identically under Java regex (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col) -> Column:
    """Sub-word-ish token-count proxy (build brief: 'whitespace + a
    BPE-ish regex'): number of BPE_ISH_PATTERN matches — letter runs
    stay whole, digits count one piece each (the GPT-2 digit rule),
    punctuation one piece per mark."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def stopword_ratio(col, lang: str = "en") -> Column:
    sw = STOPWORDS[lang]
    toks = tokens(F.lower(col))
    return F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.isin(sw))) / F.size(toks))


def lang_id(col) -> Column:
    """Heuristic language ID: argmax stopword-hit-rate over lexicons,
    'und' if nothing hits.  (Real fastText-style models slot in behind
    the same column contract.)"""
    toks = tokens(F.lower(col))

    def hit_filter(sw):
        # NB: the lambda must take exactly one parameter — PySpark treats
        # two-parameter callables as (element, index) lambdas.
        return lambda t: t.isin(sw)

    scores = [
        F.struct(
            (F.size(F.filter(toks, hit_filter(sw))) /
             F.greatest(F.size(toks), F.lit(1))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, sw in sorted(STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(F.lit("und"))


def quality_features(df, text_col: str = "text"):
    """Classic quality-filter feature set (length / punctuation /
    stopword / uniqueness ratios) as plain columns."""
    c = F.col(text_col)
    toks = tokens(c)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        F.length(c).alias("n_chars_q"),
        F.round(F.length(F.regexp_replace(c, r"[^\W_]|\s", "")) /
                F.greatest(F.length(c), F.lit(1)), 6).alias("punct_ratio"),
        F.round(F.size(F.array_distinct(toks)) /
                F.greatest(F.size(toks), F.lit(1)), 6).alias("unique_ratio"),
        F.round(F.length(c) / F.greatest(F.size(toks), F.lit(1)), 6)
        .alias("mean_token_len"),
        stopword_ratio(c).alias("stopword_ratio_en"),
    )


def normalize_text(col) -> Column:
    """lower + collapse internal whitespace + trim: the one text
    normalizer behind dedup digests, fingerprints, trigram/shingle
    text and alias surfaces (SURVEY F8)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized,
    lowercased text (rolling-hash stand-in; portable + deterministic)."""
    return F.md5(normalize_text(col))


# Gopher-style hard quality thresholds (Rae et al. 2021 §A1.1 family —
# published rules, tuned loosely to the synthetic corpus scale)
QUALITY_RULES = {
    "min_tokens": 5,
    "max_tokens": 100_000,
    "mean_token_len_min": 2.0,
    "mean_token_len_max": 12.0,
    "min_stopword_ratio": 0.01,
    "min_unique_ratio": 0.2,
}


def quality_filter(col, rules: dict | None = None):
    """C4/Gopher-style keep/drop decision: (keep boolean, reason string —
    the FIRST violated rule in a fixed order, 'ok' when kept).  Pure
    built-ins; the thresholds are data, not code."""
    r = {**QUALITY_RULES, **(rules or {})}
    toks = tokens(col)
    n = token_count(col)
    mean_len = F.length(col) / F.greatest(F.size(toks), F.lit(1))
    uniq = F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))
    sw = stopword_ratio(col)
    reason = (
        F.when(n < r["min_tokens"], F.lit("too_short"))
        .when(n > r["max_tokens"], F.lit("too_long"))
        .when(mean_len < r["mean_token_len_min"], F.lit("tokens_too_short"))
        .when(mean_len > r["mean_token_len_max"], F.lit("tokens_too_long"))
        .when(sw < r["min_stopword_ratio"], F.lit("no_stopwords"))
        .when(uniq < r["min_unique_ratio"], F.lit("too_repetitive"))
        .otherwise(F.lit("ok")))
    return (reason == "ok").alias("keep"), reason.alias("reason")


def repetition_features(col, shingle_n: int = 3):
    """Intra-document repetition (the Gopher 'repetition' family —
    complements inter-document dedup): duplicate word-n-gram fraction
    and the share of the single most frequent token.  Returns
    (dup_shingle_ratio, top_token_share) columns, both rounded."""
    toks = tokens(F.lower(col))
    all_sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (shingle_n - 1),
                                        F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_n)))
    dup = F.round(F.lit(1.0) - F.size(F.array_distinct(all_sh))
                  / F.size(all_sh), 6)
    top = F.round(
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t))))
        / F.greatest(F.size(toks), F.lit(1)), 6)
    return dup.alias("dup_shingle_ratio"), top.alias("top_token_share")


# deliberately lookaround-free patterns (Java regex AND RE2 identical)
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "n_phones": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "n_ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(col):
    """Per-document PII-ish pattern counts (emails / phone-shaped runs /
    IPv4) — the scrubbing pre-pass of a training-data pipeline.  The
    redaction itself is redact_pii below (same patterns); patterns
    engine-portable for the oracle."""
    return [F.size(F.regexp_extract_all(col, F.lit(p), F.lit(0))).alias(name)
            for name, p in PII_PATTERNS.items()]


# redaction placeholders + a FIXED application order (emails before
# phones so a phone-shaped digit run inside a mail local part is already
# gone; ipv4 before phones so dotted quads never half-match as phones)
PII_REDACTIONS = [
    ("n_emails", "<EMAIL>"),
    ("n_ipv4", "<IP>"),
    ("n_phones", "<PHONE>"),
]


def redact_pii(col):
    """Redact every PII match in place — the scrubber pii_counts's own
    docstring promises.  A pure chained regexp_replace (JVM-side,
    replaces ALL occurrences; the DuckDB oracle mirrors with the 'g'
    flag).  Placeholder text contains no digits or '@', so one pass is a
    fixed point on natural text (adversarial inputs like 'a@b.com@c.com'
    can leave a residual local-part match — counts, not a crash; pinned
    in tests)."""
    out = col
    for name, repl in PII_REDACTIONS:
        out = F.regexp_replace(out, F.lit(PII_PATTERNS[name]), F.lit(repl))
    return out
