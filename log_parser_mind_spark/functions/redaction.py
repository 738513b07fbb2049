"""PII redaction / detection / masking (SURVEY §2.2 P4-P6).

Native-expression port of internal/compression/pii/redactor.go:
  - pattern set + placeholders ← redactor.go:39-89
  - Redact (full replace)      ← redactor.go:92-107
  - RedactVariables            ← redactor.go:110-121: ``redact_value_expr``
                                 per variable value, applied by
                                 parse.finalize_parsed
  - DetectPII                  ← redactor.go:139-149
  - Mask / MaskEmail           ← redactor.go:153-179

Divergence (documented, SURVEY §7.5.5): the reference iterates a Go map →
nondeterministic pattern application order; the rebuild fixes the canonical
order email → phone → ssn → credit_card → ipv4 → ipv6 → custom(sorted).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import RedactorConfig

# redactor.go:43-65 pattern strings. Go's RE2 `(?:...)` groups are valid Java
# regex too. Order here IS the canonical application order.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("phone", r"\b(?:\+?1[-.\s]?)?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("credit_card", r"\b(?:\d{4}[-\s]?){3}\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("ipv6", r"\b(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}\b"),
]

# redactor.go:82-89.
PLACEHOLDERS: dict[str, str] = {
    "email": "[EMAIL_REDACTED]",
    "phone": "[PHONE_REDACTED]",
    "ssn": "[SSN_REDACTED]",
    "credit_card": "[CC_REDACTED]",
    "ipv4": "[IPV4_REDACTED]",
    "ipv6": "[IPV6_REDACTED]",
}


def active_patterns(config: RedactorConfig | None = None) -> list[tuple[str, str, str]]:
    """(name, pattern, placeholder) triples in canonical application order."""
    config = config or RedactorConfig()
    enabled = {
        "email": config.redact_emails,
        "phone": config.redact_phones,
        "ssn": config.redact_ssn,
        "credit_card": config.redact_credit_cards,
        "ipv4": config.redact_ipv4,
        "ipv6": config.redact_ipv6,
    }
    out = [
        (name, pattern, PLACEHOLDERS[name])
        for name, pattern in PII_PATTERNS
        if enabled[name]
    ]
    for name in sorted(config.custom_patterns):
        out.append((name, config.custom_patterns[name], "[REDACTED]"))
    return out


def redact_expr(text: Column, config: RedactorConfig | None = None) -> Column:
    """Redact (redactor.go:92-107): chained regexp_replace, canonical order."""
    out = text
    for _, pattern, placeholder in active_patterns(config):
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def redact_value_expr(value: Column, config: RedactorConfig | None = None) -> Column:
    """One redacted VALUE: a combined rlike gates the 4-6 regexp_replace
    chain — most variable values carry no PII, so the common case pays a
    single regex scan instead of one per pattern (same output by
    construction: values not matching any pattern are replace no-ops)."""
    pats = active_patterns(config)
    if not pats:
        return value
    combined = "|".join(f"(?:{p})" for _, p, _ in pats)
    return F.when(value.rlike(combined), redact_expr(value, config)).otherwise(value)


def detect_pii_expr(text: Column, config: RedactorConfig | None = None) -> Column:
    """DetectPII (redactor.go:139-149) → sorted array of PII type names found.

    The reference returns Go-map-ordered (nondeterministic) names; the rebuild
    returns the canonical order.
    """
    hits = [
        F.when(text.rlike(pattern), F.lit(name))
        for name, pattern, _ in active_patterns(config)
    ]
    if not hits:
        return F.array().cast("array<string>")
    return F.filter(F.array(*hits), lambda x: x.isNotNull())


def mask_expr(text: Column, visible_chars: int) -> Column:
    """Mask (redactor.go:153-161): keep first k chars, star the rest."""
    n = F.length(text)
    return F.when(
        n <= F.lit(visible_chars), F.repeat(F.lit("*"), n)
    ).otherwise(
        F.concat(
            F.substring(text, 1, visible_chars),
            F.repeat(F.lit("*"), n - F.lit(visible_chars)),
        )
    )


def mask_email_expr(email: Column) -> Column:
    """MaskEmail (redactor.go:164-179): keep first char of local part + domain."""
    parts = F.split(email, "@", -1)
    local = F.element_at(parts, 1)
    domain = F.element_at(parts, 2)
    masked_local = F.when(F.length(local) <= 1, local).otherwise(
        F.concat(F.substring(local, 1, 1), F.repeat(F.lit("*"), F.length(local) - 1))
    )
    return F.when(F.size(parts) != 2, F.lit("[INVALID_EMAIL]")).otherwise(
        F.concat(masked_local, F.lit("@"), domain)
    )
