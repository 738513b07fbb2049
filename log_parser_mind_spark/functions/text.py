"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting. All native expressions (JVM-side),
deterministic, and DuckDB-oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "in", "and", "is"],
    "es": ["el", "la", "de", "que", "y", "los", "en"],
    "fr": ["le", "la", "les", "et", "un", "une", "des"],
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht"],
}
LANG_ORDER = ["en", "es", "fr", "de"]  # deterministic tiebreak precedence

BPE_ISH_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def lower_tokens(text: Column) -> Column:
    """THE lowercase whitespace tokenizer: the text-analytics stage and the
    fingerprint ops (dedup.simhash_table, embed.hashing_embedding_table)
    tokenize through this one definition, so passes over one corpus can
    never drift apart. Empty tokens are dropped. NULL-safe: NULL text
    tokenizes to the EMPTY array, not NULL — a NULL tokens column poisons
    downstream scoring (size(NULL) is NULL, and least(NULL/64, 1.0) SKIPS
    the null, so a NULL doc scored a perfect length term of 1.0 → quality
    0.7 instead of the floor 0.3)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), r"\s+"), lambda t: t != ""
    )


# -- tokens-column variants (the scale path) ---------------------------------
# Catalyst does NOT common-subexpression higher-order/regex chains: an
# expression tree that embeds lower_tokens(text) once per language re-runs
# the regex split 5-6× per row (the exact trap documented at parse.py:28-39).
# Materialize ``tokens`` ONCE in its own projection (CollapseProject keeps a
# non-cheap alias referenced >1× in its own project), then feed the *_from
# variants the attribute. The *_expr wrappers below remain for one-off use.


def with_tokens(df, text_col: str = "text", out_col: str = "tokens"):
    """Materialize the tokenization once; downstream *_from exprs reference
    the attribute, so the plan contains exactly ONE regex split."""
    return df.withColumn(out_col, lower_tokens(F.col(text_col)))


def word_ngrams_expr(tokens: Column, n: int) -> Column:
    """Word n-grams (space-joined) over a MATERIALIZED tokens column; a
    <n-token doc yields the EMPTY array (the ``sequence(1, 0)`` guard —
    Spark auto-steps -1 and produces a descending range otherwise). One
    definition shared by the per-doc repetition metrics and the corpus-wide
    heavy hitters so gram semantics can never drift between them."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def stopword_hits_from(tokens: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def lang_id_from(tokens: Column, min_hits: int = 1) -> Column:
    """Argmax of stopword hits with fixed precedence; 'unknown' below min_hits."""
    hits = {lang: stopword_hits_from(tokens, lang) for lang in LANG_ORDER}
    best = F.greatest(*hits.values())
    expr = F.lit("unknown")
    for lang in reversed(LANG_ORDER):
        expr = F.when((hits[lang] == best) & (best >= min_hits), F.lit(lang)).otherwise(expr)
    return expr


def quality_score_from(tokens: Column, text: Column) -> Column:
    """Composite [0,1] quality score from length / punctuation / stopword
    ratios over a MATERIALIZED tokens column (token-derived terms reference
    the attribute; chars/punct are one pass over the raw text)."""
    n_tok = F.size(tokens)
    n_chars = F.length(F.coalesce(text, F.lit("")))
    punct = punct_count_expr(text)
    stop = stopword_hits_from(tokens, "en")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop / n_tok).otherwise(F.lit(0.0))
    return F.round(
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * (1 - F.least(punct_ratio * 4, F.lit(1.0))),
        6,
    )


# -- text-column convenience wrappers (one-off use, NOT the 100 TB pass) -----


def lang_id_expr(text: Column, min_hits: int = 1) -> Column:
    """Convenience wrapper — inlines one split per language; use
    ``with_tokens`` + ``lang_id_from`` in pipelines."""
    return lang_id_from(lower_tokens(text), min_hits)


def whitespace_token_count_expr(text: Column) -> Column:
    return F.size(lower_tokens(text))


def bpe_ish_token_count_expr(text: Column) -> Column:
    """Word/punctuation split approximating a BPE pre-tokenizer pass."""
    return F.size(F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_count_expr(text: Column) -> Column:
    return F.size(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(r"[^A-Za-z0-9_\s]"), F.lit(0))
    )


def quality_score_expr(text: Column) -> Column:
    """Convenience wrapper over ``quality_score_from`` — inlines extra splits;
    use ``with_tokens`` + ``quality_score_from`` in pipelines."""
    return quality_score_from(lower_tokens(text), text)


def _trim_ws(c: Column) -> Column:
    """strings.TrimSpace analog — F.trim only removes ASCII spaces, but Go
    trims all unicode.IsSpace runes (NBSP, U+0085, …). Java's \\s is
    ASCII-only without the (?U) flag, so a model response led by a
    non-breaking space would keep its fence un-stripped."""
    return F.regexp_replace(F.regexp_replace(c, r"(?U)^\s+", ""), r"(?U)\s+$", "")


def strip_code_fences_expr(text: Column) -> Column:
    """F17 — markdown code-fence stripping, exactly the reference's
    cleanJSONResponse (internal/agent/llm/client.go:271-284): TrimSpace, then
    if the content starts with ```json (lowercase only) strip that prefix and
    a trailing ``` IF PRESENT; else if it starts with ``` strip prefix+suffix
    the same way; a trailing ``` with NO leading fence is left alone (Go only
    TrimSuffixes inside the prefix branches). TrimSpace the result."""
    t = _trim_ws(text)

    def body(prefix_pattern: str) -> Column:
        b = F.regexp_replace(t, prefix_pattern, "")
        return F.regexp_replace(b, r"```$", "")

    out = (
        F.when(t.startswith("```json"), body(r"^```json"))
        .when(t.startswith("```"), body(r"^```"))
        .otherwise(t)
    )
    return _trim_ws(out)


def poly_unit_expr(t: Column, mod: int = 1_000_000_007) -> Column:
    """Per-token unit of the suite's PORTABLE polynomial hash:
    31·unicode(first char) + byte length (mod p). ONE definition shared by
    fingerprint_expr and sample.dsir_select's feature buckets — a constant
    change here changes both together, so the SQL oracles that recompute
    the fold verbatim can never silently desynchronize from one caller."""
    return (F.lit(31) * F.ascii(t) + F.octet_length(t)) % mod


def poly_fold_expr(tokens: Column, mod: int = 1_000_000_007) -> Column:
    """Rolling fold of poly_unit_expr over a token array: acc·131 + unit
    (mod p), seed 0. Every intermediate stays within BIGINT, so the same
    integer expression runs verbatim in engines that error on overflow
    (DuckDB list_reduce replicates it in the oracles)."""
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + poly_unit_expr(t, mod)) % mod,
    )


def fingerprint_expr(text: Column, mod: int = 1_000_000_007) -> Column:
    """Rolling polynomial hash over the document's tokens — the shared
    poly_fold_expr applied to the whole token stream."""
    return poly_fold_expr(lower_tokens(text), mod)
