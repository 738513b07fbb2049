"""Tokenize + variable masking — the "grok" layer (SURVEY §2.2 P1-P3).

Native-expression port of the reference preprocessing:
  - tokenize        ← drain.go:172-176  (strings.Fields: any-whitespace split, no empties)
  - variable regexes← drain.go:106-131  (7 patterns, substring match)
  - pure-number test← drain.go:192-196  (strconv.ParseFloat)
  - preprocess      ← drain.go:179-189  (variable token → "<*>")

All of this runs as one whole-stage-codegen'd projection over the scan; the
masked signature is the groupBy key of the signature aggregation, which is
the only shuffle the 100 TB pass performs (map-side combine collapses each
partition to its distinct signatures before the exchange).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import WILDCARD

# drain.go:107-122, verbatim pattern strings (valid in Java, RE2 and Go regexp).
VARIABLE_PATTERNS: list[tuple[str, str]] = [
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    (
        "uuid",
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
    ),
    ("hex", r"\b[0-9a-fA-F]{8,}\b"),
    ("number", r"\b\d+\b"),
    ("path", r"/[^\s]+"),
    ("url", r"https?://[^\s]+"),
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
]

# strconv.ParseFloat acceptance (drain.go:194): decimal/exponent forms plus
# inf/nan. (Go additionally accepts hex floats and digit underscores; any such
# token the decimal form misses is still caught by the `number` pattern above
# whenever it contains a bare digit run.)
PARSEFLOAT_PATTERN = r"(?i)^[+-]?((\d+(\.\d*)?|\.\d+)(e[+-]?\d+)?|inf(inity)?|nan)$"

# One alternation → one regex pass per token instead of eight.
IS_VARIABLE_PATTERN = "|".join(f"(?:{p})" for _, p in VARIABLE_PATTERNS) + f"|(?:{PARSEFLOAT_PATTERN})"

# r6 (guide §1.2 "per-task work"): cheap NECESSARY condition evaluated before
# the 8-branch alternation — most log tokens are plain words, and the full
# alternation retries every branch at every position of every one of them.
# A token can only match IS_VARIABLE_PATTERN if it
#   - contains a digit ('0-9': ipv4 / number / uuid-or-hex-with-digits /
#     numeric ParseFloat forms), or
#   - contains '@' (email) or '/' (path, url), or
#   - contains an 8-run of hex LETTERS ([a-fA-F]{8}: the all-letter uuid /
#     hex{8,} forms — any ≥8-char hex run without digits has 8 consecutive
#     hex letters), or
#   - IS (case-insensitively, with optional sign) inf/infinity/nan — the
#     only digit-free ParseFloat forms, matched here verbatim.
# Codegen's And short-circuits, so non-matching tokens pay three cheap
# scans instead of the alternation. Equivalence is property-tested against
# the pure-Python oracle and was diff=0 over the full sf0.1 synth corpus
# and documents table; measured ~45% off the mask pass (~2× per-token).
IS_VARIABLE_GATE = r"[0-9@/]|[a-fA-F]{8}|(?i)^[+-]?(inf(inity)?|nan)$"


def tokens_expr(text: Column) -> Column:
    """strings.Fields semantics: split on runs of whitespace, drop empties.

    ``split(trim(s), "\\s+")`` yields ``[""]`` for blank input, so blank →
    empty array explicitly (drain.go:140-142 rejects empty token lists).
    """
    trimmed = F.trim(text)
    return F.when(
        text.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def is_variable_expr(token: Column) -> Column:
    return token.rlike(IS_VARIABLE_GATE) & token.rlike(IS_VARIABLE_PATTERN)


def masked_tokens_expr(tokens: Column) -> Column:
    """preprocessTokens (drain.go:179-189): variable-looking token → <*>."""
    return F.transform(
        tokens, lambda t: F.when(is_variable_expr(t), F.lit(WILDCARD)).otherwise(t)
    )


def masked_sig_expr(masked_tokens: Column) -> Column:
    """Join masked tokens to the canonical signature string (drain.go:308-310)."""
    return F.array_join(masked_tokens, " ")
