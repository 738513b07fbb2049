"""Stage 1 (mask) + stage 5 (finalize): the vectorized grok/regex parse layer.

Everything here is native `pyspark.sql.functions` — one whole-stage-codegen'd
projection over the scan, no Python in the hot path (north rule: "vectorized
pandas/Arrow UDFs (no per-row Python)"; we go one better and stay JVM-side).

Reference parity:
  - tokenize/mask            ← drain.go:172-206 (via functions.masking)
  - variable extraction      ← drain.go:366-381 (positional var_N map)
  - PII redaction of vars    ← cmd/ingestion/main.go:89-92 + redactor.go:110-121
  - original_size            ← len(content) in Go counts BYTES → octet_length
                               (cmd/ingestion/main.go:84, cmd/compression/main.go:67)
  - compressed_size          ← len(template_id) + Σ(len(k)+len(v)) over variables
                               (cmd/compression/main.go:68,85-91)
  - log_id                   ← uuid.New() (cmd/ingestion/main.go:80) replaced by a
                               deterministic hash of (conv_id, turn_idx) — SURVEY F8
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import WILDCARD, PipelineConfig
from ..functions.masking import masked_sig_expr, masked_tokens_expr, tokens_expr
from ..functions.redaction import redact_value_expr


def masked_transcripts(transcripts: DataFrame, max_depth: int = 4) -> DataFrame:
    """Stage 1: add tokens + the masked signature.

    The masked signature is the ONLY expensive expression (a regex pass per
    token), and it is deliberately the only masked-derived column here:
    Catalyst inlines alias references, and higher-order-function chains are
    not codegen-CSE'd, so deriving n_tokens/k0/k1/sig_id from masked tokens
    at row level re-evaluated the whole regex mask once per reference
    (measured ~5× the CPU of the entire big-data pass). Tree-leaf keys and
    the hash join key are instead derived AFTER the signature aggregation,
    where only one row per distinct signature pays the re-parse
    (miner.leaf_keys_from_sig)."""
    df = transcripts.withColumn("tokens", tokens_expr(F.col("text")))
    return df.withColumn(
        "masked_sig", masked_sig_expr(masked_tokens_expr(F.col("tokens")))
    )


def variable_entries_expr(template_tokens: Column, raw_tokens: Column) -> Column:
    """extractVariables (drain.go:366-381) as an entries ARRAY —
    ``[struct(key: var_i, value: raw token at the i-th wildcard slot)]``,
    skipping slots past the raw token count; NULL when either token array
    is NULL (unmatched rows keep a NULL variables map downstream).

    r6 shape: iterate wildcard POSITIONS (a filtered int sequence) instead
    of zipping both arrays into an intermediate struct array — one array
    pass and one allocation fewer per row than the zip_with form, measured
    ~30% off the variables step of the finalize stage. Both arguments are
    referenced inside lambda bodies, so callers MUST pass materialized
    array columns (not inline split(...) expressions) or the split re-runs
    per element — the HOF-CSE trap documented at masked_transcripts."""
    n = F.least(F.size(template_tokens), F.size(raw_tokens))
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    pos = F.filter(idx, lambda i: F.element_at(template_tokens, i) == WILDCARD)
    entries = F.transform(
        pos,
        lambda p, i: F.struct(
            F.concat(F.lit("var_"), i.cast("string")).alias("key"),
            F.element_at(raw_tokens, p).alias("value"),
        ),
    )
    return F.when(
        template_tokens.isNull() | raw_tokens.isNull(),
        F.lit(None).cast("array<struct<key:string,value:string>>"),
    ).otherwise(entries)


def variables_expr(template_tokens: Column, raw_tokens: Column) -> Column:
    """extractVariables (drain.go:366-381): map var_i → raw token at the i-th
    wildcard slot of the template, skipping slots past the raw token count.
    (``map_from_entries`` over NULL propagates NULL — unmatched rows keep a
    NULL map, exactly the old zip_with form's behavior.)"""
    return F.map_from_entries(variable_entries_expr(template_tokens, raw_tokens))


def map_size_expr(variables: Column) -> Column:
    """estimateVariablesSize (cmd/compression/main.go:85-91): Σ len(k)+len(v),
    byte lengths (Go len over strings)."""
    return F.aggregate(
        F.map_entries(variables),
        F.lit(0),
        lambda acc, e: acc + F.octet_length(e["key"]) + F.octet_length(e["value"]),
    )


def log_id_expr(conv_id: Column, turn_idx: Column) -> Column:
    """Deterministic row ID replacing uuid.New() (SURVEY §2.8 F8)."""
    return F.concat(F.lit("log_"), F.lower(F.hex(F.xxhash64(conv_id, turn_idx))))


def finalize_parsed(
    assigned: DataFrame,
    config: PipelineConfig | None = None,
    include_text: bool = True,
) -> DataFrame:
    """Stage 5: variables + redaction + sizes + ids → the parsed_turns sink
    schema (schemas.PARSED_TURNS). ``assigned`` = output of miner.assign_templates.

    ``include_text=False`` matches the reference sink exactly — compressed_logs
    stores template+variables, never the raw line (001_clickhouse_schema.sql:
    10-23; storing it would defeat the compression) — and roughly halves sink
    bytes. The default keeps the pass-through column for per-turn equality
    verification.
    """
    config = config or PipelineConfig()
    # r6 (guide §1.2 "per-task work"): the variables map is built ONCE as a
    # REDACTED entries array and both outputs (the map column and the
    # compressed-size fold) derive from that single array — the old form
    # re-walked the finished map via map_entries for the size. Each step
    # lives in its own withColumn so CollapseProject cannot inline a
    # multiply-referenced HOF tree (the CSE trap at masked_transcripts),
    # and _ttoks is materialized because variable_entries_expr references
    # it inside lambda bodies.
    df = assigned.withColumn("_ttoks", F.split(F.col("template"), " "))
    df = df.withColumn(
        "_ventries", variable_entries_expr(F.col("_ttoks"), F.col("tokens"))
    )
    df = df.withColumn(
        "_vred",
        F.transform(
            F.col("_ventries"),
            lambda e: F.struct(
                e["key"].alias("key"),
                redact_value_expr(e["value"], config.redactor).alias("value"),
            ),
        ),
    )
    entries_size = F.aggregate(
        F.col("_vred"),
        F.lit(0),
        lambda acc, e: acc + F.octet_length(e["key"]) + F.octet_length(e["value"]),
    )
    return df.select(
        "conv_id",
        "turn_idx",
        log_id_expr(F.col("conv_id"), F.col("turn_idx")).alias("log_id"),
        "ts",
        F.col("role").alias("source"),
        "tool",
        *(["text"] if include_text else []),
        "template_id",
        "template",
        F.map_from_entries(F.col("_vred")).alias("variables"),
        "is_new",
        F.octet_length("text").alias("original_size"),
        (F.length("template_id") + entries_size).cast("int").alias("compressed_size"),
    )


def parse_pipeline(
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    include_text: bool = True,
    seed_templates: DataFrame | None = None,
):
    """Convenience: transcripts → (parsed_turns, templates, assignments).

    ``assignments`` is tiny (one row per distinct masked signature) but sits
    upstream of BOTH the templates dimension and the row-level join — without
    caching, every downstream sink re-runs the whole mining pass over the
    full input. Persisting it is the difference between one 100 TB scan per
    sink and one total.
    """
    from .miner import assign_templates, mine_assignments, templates_from_assignments

    config = config or PipelineConfig()
    masked = masked_transcripts(transcripts, config.drain.max_depth)
    assignments = mine_assignments(masked, config, seed_templates=seed_templates).persist()
    templates = templates_from_assignments(assignments)
    parsed = finalize_parsed(
        assign_templates(masked, assignments, config), config, include_text=include_text
    )
    return parsed, templates, assignments
