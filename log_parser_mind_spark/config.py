"""Configuration dataclasses.

Reference parity:
  - DrainConfig   mirrors drain.Config           (reference internal/compression/drain/drain.go:56-74)
  - RedactorConfig mirrors pii.RedactorConfig    (reference internal/compression/pii/redactor.go:16-36)
  - AnomalyConfig mirrors the anomaly service's  (reference cmd/anomaly/main.go flags / config.example.yaml)
    thresholds and 5-minute window.
"""

from __future__ import annotations

from dataclasses import dataclass, field

WILDCARD = "<*>"


@dataclass(frozen=True)
class DrainConfig:
    """Drain template-mining knobs (reference drain.go:66-74 defaults).

    ``max_depth`` and ``sim_threshold`` drive both the literal port
    (drain_core.DrainTree) and the distributed miner. The reference's
    ``MaxChildren`` / ``MaxClusters`` have no field: it never limits tree
    growth with them (drain.go:313-342 has no cap check). Its
    ``MaxSampleLogs`` has none either: its SampleLogs are never populated
    (drain.go:290).
    ``giant_leaf_threshold`` is the distributed miner's scale guard.
    """

    max_depth: int = 4
    sim_threshold: float = 0.5
    # Scale guard (no reference analog — the reference's global-mutex tree
    # simply degrades): a tree leaf whose DISTINCT-signature count exceeds
    # this cap is mined on a deterministic hash-sample of ~this many sigs;
    # the tail is assigned JVM-side against the mined templates (broadcast +
    # zip_with similarity), with singleton fallback for unmatched sigs.
    # Keeps the sequential Python clustering task bounded at O(cap·clusters)
    # regardless of corpus cardinality.
    giant_leaf_threshold: int = 100_000


@dataclass(frozen=True)
class RedactorConfig:
    """PII redaction toggles (reference redactor.go:27-36 defaults).

    Unlike the reference, whose Go map iteration applies patterns in a
    nondeterministic order (redactor.go:98), the rebuild applies them in the
    canonical order email → phone → ssn → credit_card → ipv4 → ipv6 →
    custom (sorted by name). Deterministic output is a strict improvement.
    """

    redact_emails: bool = True
    redact_phones: bool = True
    redact_ssn: bool = True
    redact_credit_cards: bool = True
    redact_ipv4: bool = False  # often needed for debugging (redactor.go:33)
    redact_ipv6: bool = False
    custom_patterns: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class AnomalyConfig:
    """Z-score anomaly thresholds (reference cmd/anomaly/main.go defaults).

    ``window`` is the trailing evaluation window (5 minutes,
    cmd/anomaly/main.go:121,172); ``min_points`` is the warm-up gate
    (cmd/anomaly/main.go:115,166).
    """

    error_threshold: float = 3.0
    volume_threshold: float = 3.0
    window_minutes: int = 5
    min_points: int = 10


@dataclass(frozen=True)
class PipelineConfig:
    """End-to-end job knobs."""

    drain: DrainConfig = field(default_factory=DrainConfig)
    redactor: RedactorConfig = field(default_factory=RedactorConfig)
    anomaly: AnomalyConfig = field(default_factory=AnomalyConfig)
