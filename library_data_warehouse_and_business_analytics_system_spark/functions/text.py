"""Text-analysis primitives for training-data pipelines: tokenizing,
language-ID scoring, quality metrics, shingling, content hashing. Pure
Column expressions (split/regexp/HOFs) — the hot path never leaves the
JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword heuristic
#: language identifier. Public knowledge (most-frequent function words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu", "auf"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def tokens(text: Column) -> Column:
    r"""Whitespace tokenization: ``split(trim(text), '\s+')``."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words + digit runs + punctuation
    symbols counted separately (a cheap, deterministic BPE proxy)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(F.lower(text)), lambda t: F.array_contains(sw, t)))


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-ratio score per candidate language."""
    n = token_count(text)
    return {lang: stopword_hits(text, lang) / F.nullif(n, F.lit(0))
            for lang in STOPWORDS}


def predict_lang(text: Column) -> Column:
    """argmax over lang_scores with deterministic tie-break (language
    code order); 'und' when no stopword hits at all."""
    scores = lang_scores(text)
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(STOPWORDS)
    ])
    best = F.array_max(F.filter(pairs, lambda p: p.score > 0))
    return F.coalesce(best.lang, F.lit("und"))


def mean_token_len(text: Column) -> Column:
    t = tokens(text)
    return (F.aggregate(F.transform(t, lambda x: F.length(x).cast("double")),
                        F.lit(0.0), lambda a, x: a + x)
            / F.nullif(F.size(t).cast("double"), F.lit(0.0)))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + stopword
    presence + sane mean token length (Gopher/C4-style rule scoring
    re-expressed as one Column)."""
    n = token_count(text)
    len_ok = F.when(n.between(50, 100_000), 1.0).when(n.between(10, 49), 0.5) \
        .otherwise(0.0)
    mtl = mean_token_len(text)
    mtl_ok = F.when(mtl.between(3.0, 10.0), 1.0).otherwise(0.0)
    any_sw = F.greatest(*[stopword_hits(text, code) for code in STOPWORDS])
    sw_ok = F.when(any_sw > 0, 1.0).otherwise(0.0)
    return (len_ok + mtl_ok + sw_ok) / F.lit(3.0)


def shingles_from_tokens(tok: Column, n: int = 5) -> Column:
    """Word n-gram shingle strings (space-joined) over a PRE-COMPUTED
    token array column.

    ``tok`` must be a column REFERENCE (materialized by an upstream
    projection), not an inline ``tokens(text)`` expression: interpreted
    higher-order-function lambdas re-evaluate any subtree embedded in
    the lambda body once per element, so an inlined regex split runs
    ~|shingles| times per row (measured 6× slower at 5k docs)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tok) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(tok, i, n), " "))


def shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingle strings (space-joined). Prefer
    ``shingles_from_tokens`` over a materialized token column in hot
    paths — see its docstring."""
    return shingles_from_tokens(tokens(text), n)


def shingle_hashes_from_tokens(tok: Column, n: int = 5) -> Column:
    """Distinct 64-bit shingle hashes (xxhash64) over a pre-computed
    token array column (same evaluation-order caveat as
    ``shingles_from_tokens``)."""
    return F.array_distinct(
        F.transform(shingles_from_tokens(tok, n), lambda s: F.xxhash64(s)))


# ---------------------------------------------------------------------------
# Shared-tokenization variants: at corpus scale the regex split is the
# dominant per-row cost, so multi-metric passes tokenize ONCE into a
# projected array column and derive every metric from it (lowercasing
# via transform(), never a second split).


def stopword_hits_from(tokens_lower: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens_lower, lambda t: F.array_contains(sw, t)))


def mean_token_len_from(t: Column) -> Column:
    return (F.aggregate(F.transform(t, lambda x: F.length(x).cast("double")),
                        F.lit(0.0), lambda a, x: a + x)
            / F.nullif(F.size(t).cast("double"), F.lit(0.0)))


def quality_score_from(t: Column, tokens_lower: Column) -> Column:
    """quality_score over pre-tokenized arrays (identical semantics)."""
    n = F.size(t)
    len_ok = F.when(n.between(50, 100_000), 1.0).when(n.between(10, 49), 0.5) \
        .otherwise(0.0)
    mtl_ok = F.when(mean_token_len_from(t).between(3.0, 10.0), 1.0) \
        .otherwise(0.0)
    any_sw = F.greatest(*[stopword_hits_from(tokens_lower, code)
                          for code in STOPWORDS])
    sw_ok = F.when(any_sw > 0, 1.0).otherwise(0.0)
    return (len_ok + mtl_ok + sw_ok) / F.lit(3.0)


def predict_lang_from(t: Column, tokens_lower: Column) -> Column:
    """predict_lang over pre-tokenized arrays (identical semantics)."""
    n = F.size(t)
    pairs = F.array(*[
        F.struct((stopword_hits_from(tokens_lower, lang)
                  / F.nullif(n, F.lit(0))).alias("score"),
                 F.lit(lang).alias("lang"))
        for lang in sorted(STOPWORDS)
    ])
    best = F.array_max(F.filter(pairs, lambda p: p.score > 0))
    return F.coalesce(best.lang, F.lit("und"))


#: PII patterns → replacement tags, applied in order: email before
#: phone (a dotted local-part must not be half-eaten by the phone
#: rule), SSN before phone (the looser phone rule matches the SSN
#: shape).  Deliberately conservative/deterministic regexes — a corpus
#: scrub wants reproducible output, not maximum recall; swap in a
#: trained recognizer behind the same column contract when available.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact email / IPv4 / phone-like / SSN-like spans with typed
    placeholder tags. Pure chained ``regexp_replace`` — JVM-side,
    single pass per pattern, no UDF; at 100 TB this is a map-only
    stage fused into whatever scan feeds it."""
    out = text
    for pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def pii_hits(text: Column) -> Column:
    """How many PII spans :func:`scrub_pii` would redact (sum over
    pattern classes, counted on the progressively scrubbed text so the
    classes never double-count one span)."""
    total = F.lit(0)
    scrubbed = text
    for pattern, _tag in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(scrubbed,
                                                    F.lit(pattern), 0))
        scrubbed = F.regexp_replace(scrubbed, pattern, "")
    return total


def md5_unit_interval(col: Column, salt: str = "") -> Column:
    """Deterministic uniform in [0, 1): the first 52 bits (13 hex
    digits) of md5(salt || col), divided by 2^52. Both the
    integer→double cast and the power-of-two division are exact, so
    every md5-capable engine reproduces the value bit-for-bit.
    Shares :func:`md5_bucket`'s salting convention — ONE md5
    primitive family, so samples and splits can never drift apart."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return (F.conv(F.substring(F.md5(salted), 1, 13), 16, 10)
            .cast("long").cast("double") / F.lit(float(1 << 52)))


def md5_bucket(col: Column, n_buckets: int, salt: str = "") -> Column:
    """Deterministic content bucket in [0, n_buckets): the first 6 hex
    digits of md5(salt || col) as an int, mod n_buckets.

    The shared primitive behind hash splitting, stratified sampling,
    and split-aware decontamination — one definition so the split and
    the sample can never drift apart, and so every engine that can
    md5 (the DuckDB oracles do) reproduces membership bit-for-bit.
    Different ``salt`` values give independent bucketings (the sample
    hash must not correlate with the train/test split hash)."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.pmod(F.conv(F.substring(F.md5(salted), 1, 6), 16, 10)
                  .cast("int"), F.lit(n_buckets))
