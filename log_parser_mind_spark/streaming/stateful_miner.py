"""T4 as a TRUE arbitrary-stateful streaming operator: the Drain leaf state
lives in Spark's state store, keyed by tree leaf, instead of being re-read
from the committed templates dimension every micro-batch.

Reference semantics: the Drain tree as unbounded mutex-guarded state
(drain.go:17-26, 135-136). The foreachBatch path (stream.incremental_pipeline)
already converges to batch by re-seeding each micro-batch from the committed
dimension — correct, but at scale it re-reads and re-shuffles a GROWING
dimension table on every trigger. Here the per-leaf cluster templates ARE the
keyed state: a trigger touches only the leaves present in that micro-batch,
state is recovered from the checkpoint on restart, and the state store shards
by the same leaf key the batch miner groups on.

Shared core: the per-leaf sequential loop is miner.cluster_leaf — the exact
function the batch applyInPandas UDF runs — so the two paths cannot drift.
Within one micro-batch, signatures are processed in canonical first-
occurrence (conv, turn) order over the batch (the batch miner uses the
global first occurrence; for a single-batch stream the two are identical,
asserted in tests/test_stateful_miner.py).

Scale shape: the output is one row per DISTINCT signature per trigger (the
batch miner's ASSIGNMENTS shape), never one per input row, and the handler
folds the incoming Arrow chunks into per-signature stats incrementally —
Python memory is O(distinct sigs per leaf-batch) even when one hot template
dominates a trigger (the same "distinct signatures, not rows" bound that
makes the batch design work; batch additionally guards giant LEAVES, i.e.
distinct-sig blowups, which a caller here controls with the trigger size).
Per-turn assignment remains the foreachBatch pipeline's job — joining the
tiny sig→template map back onto rows is batch stage 4, and in pure
streaming it would be a stream-stream join against this operator's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..operators.miner import _LEAF_KEYS, cluster_leaf, leaf_keys_from_sig
from ..operators.parse import masked_transcripts

STATEFUL_OUT_SCHEMA = (
    "masked_sig string, template_id string, template string, creates boolean, "
    "weight long, first_seen timestamp, last_seen timestamp, "
    "first_conv string, first_turn int"
)
STATEFUL_STATE_SCHEMA = "templates array<string>"


def mine_templates_stateful(
    stream: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Streaming masked turns → per-trigger distinct-signature template
    assignments (ASSIGNMENTS schema) with the Drain leaf state in the state
    store.

    Emits one row per (micro-batch, distinct signature), append mode:
    (masked_sig, template_id, template, creates, weight, first_seen,
    last_seen, first_conv, first_turn). ``creates`` is True only for a
    signature that FOUNDED a new cluster in its micro-batch — templates
    recovered from state (earlier batches) never re-anchor, exactly like
    seed templates in the batch path. The template DIMENSION is
    sum(weight) grouped by (template_id, template) over this output.

    Convergence: each micro-batch mines with the recovered state as seeds —
    the same incremental semantics as the foreachBatch pipeline, which
    converges exactly to the one-shot batch mine when no later batch
    generalizes a template that earlier rows were already emitted with
    (append output cannot be retro-updated; the contract corpus satisfies
    this, asserted by the shared drain golden).

    No timeout: leaf state is the template dimension itself and must never
    expire (drain.go keeps the tree for the process lifetime; the dimension
    table is the durable analog).
    """
    import pandas as pd

    config = config or PipelineConfig()
    sim = config.drain.sim_threshold
    max_depth = config.drain.max_depth

    masked = masked_transcripts(stream, max_depth)
    keyed = masked.filter(F.col("masked_sig") != "").select(
        "conv_id",
        "turn_idx",
        "ts",
        "masked_sig",
        # Derived from the MATERIALIZED sig string (one split of an attribute,
        # not a re-run of the regex mask — the projection boundary in
        # masked_transcripts keeps the mask evaluated once per row).
        *leaf_keys_from_sig(max_depth, with_sig_id=False),
    )

    def fn(key, pdfs, state):
        seeds = list(state.get[0]) if state.exists else []
        # Fold Arrow chunks into per-signature stats incrementally — each
        # chunk is reduced (vectorized, one row = weight 1 with its ts as
        # both bounds) before the next arrives, so a hot template's row
        # volume never accumulates in Python memory.
        partials = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = pdf[["masked_sig", "conv_id", "turn_idx"]].assign(
                weight=1, first_seen=pdf["ts"], last_seen=pdf["ts"]
            )
            partials.append(_combine(pd, [rows]))
            if len(partials) > 8:  # keep the carry O(distinct), not O(chunks)
                partials = [_combine(pd, partials)]
        if not partials:
            # NoTimeout → the handler only fires with data; guard anyway.
            yield pd.DataFrame(
                columns=[
                    "masked_sig", "template_id", "template", "creates",
                    "weight", "first_seen", "last_seen", "first_conv", "first_turn",
                ]
            )
            return
        stats = _combine(pd, partials)

        sigs = stats["masked_sig"].tolist()
        convs = stats["conv_id"].tolist()
        turns = stats["turn_idx"].tolist()
        assigned, final_patterns = cluster_leaf(sigs, convs, turns, seeds, sim)
        state.update((final_patterns,))
        yield pd.DataFrame(
            {
                "masked_sig": sigs,
                "template_id": [a[0] for a in assigned],
                "template": [a[1] for a in assigned],
                "creates": [a[2] for a in assigned],
                "weight": stats["weight"].astype("int64"),
                "first_seen": stats["first_seen"],
                "last_seen": stats["last_seen"],
                "first_conv": convs,
                "first_turn": stats["turn_idx"].astype("int32"),
            }
        )

    return keyed.groupBy(*_LEAF_KEYS).applyInPandasWithState(
        fn,
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


PARSE_STREAM_OUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, template_id string, template string, is_new boolean"
)
_PARSE_OUT_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "template_id", "template", "is_new",
]


def parse_stream_stateful(
    stream: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Pure-streaming END-TO-END parse: per-TURN template assignment in the
    same stateful operator that mines (no foreachBatch, no join back onto
    the stream) — the full `processLog` path (cmd/ingestion/main.go:64-99)
    as one streaming query.

    mine_templates_stateful emits one row per distinct signature and leaves
    per-turn assignment to the foreachBatch pipeline; joining its output
    back onto the turn stream would be a stream-stream self-join behind an
    arbitrary stateful operator, which Structured Streaming does not
    support. Here the assignment happens WHERE the state already is: the
    handler buffers the trigger's rows for its leaf, mines the distinct
    signatures against the recovered state (the shared cluster_leaf core,
    identical semantics), and emits every row with its (template_id,
    template, is_new). is_new marks exactly the founding first-occurrence
    row of a creating signature — the same rule as miner.assign_templates —
    so across triggers each template anchors once, in the trigger that
    founded it.

    Memory bound — the honest trade vs mine_templates_stateful: this
    handler holds O(rows of the leaf in the trigger) in Python (row width ×
    trigger size), not O(distinct sigs): per-turn output needs the rows.
    The trigger size (maxFilesPerTrigger / maxBytesPerTrigger) is the
    control; for unbounded-trigger batch-like use, the foreachBatch
    pipeline's broadcast join remains the right shape. Rows whose signature
    is empty/NULL (empty or NULL text) pass through with NULL template,
    never touching state — the same left-join row preservation as batch.

    Convergence to the one-shot batch parse holds under the same contract
    as mine_templates_stateful (no later trigger generalizes an earlier
    trigger's emitted template) plus trigger order aligned with canonical
    (conv_id, turn_idx) order — e.g. a conv_id-range file split — so each
    cluster's global founding row lands in the trigger that founds it.
    Downstream stateless finalization (variables, sizes, ids) is
    ``parsed_stream``."""
    import pandas as pd

    config = config or PipelineConfig()
    sim = config.drain.sim_threshold
    max_depth = config.drain.max_depth

    masked = masked_transcripts(stream, max_depth)
    keyed = masked.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "masked_sig",
        *leaf_keys_from_sig(max_depth, with_sig_id=False),
    )

    def fn(key, pdfs, state):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame(columns=_PARSE_OUT_COLS)
            return
        allp = pd.concat(chunks, ignore_index=True)
        mined = allp[allp["masked_sig"].notna() & (allp["masked_sig"] != "")]
        out = allp[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].copy()
        # Vectorized assignment (the handler holds O(rows) by design, so a
        # per-row Python loop here would dominate large triggers): map the
        # sig→assignment dicts over the Series; is_new starts null (no
        # template), flips False for every assigned row, then True exactly
        # at the founding first-occurrence rows — `firsts` keeps allp's
        # index labels, so its creates-subset indexes the output directly.
        tid_map: dict = {}
        tpl_map: dict = {}
        is_new = pd.Series(pd.NA, index=allp.index, dtype="boolean")
        if len(mined):
            firsts = mined.sort_values(
                ["conv_id", "turn_idx"], kind="mergesort"
            ).drop_duplicates("masked_sig", keep="first")
            sigs = firsts["masked_sig"].tolist()
            seeds = list(state.get[0]) if state.exists else []
            assigned, final_patterns = cluster_leaf(
                sigs, firsts["conv_id"].tolist(), firsts["turn_idx"].tolist(), seeds, sim
            )
            state.update((final_patterns,))
            tid_map = {s: a[0] for s, a in zip(sigs, assigned)}
            tpl_map = {s: a[1] for s, a in zip(sigs, assigned)}
            creates = {s for s, a in zip(sigs, assigned) if a[2]}
            is_new[mined.index] = False
            is_new[firsts.index[firsts["masked_sig"].isin(creates)]] = True
        out["template_id"] = allp["masked_sig"].map(tid_map)
        out["template"] = allp["masked_sig"].map(tpl_map)
        out["is_new"] = is_new
        yield out

    return keyed.groupBy(*_LEAF_KEYS).applyInPandasWithState(
        fn,
        outputStructType=PARSE_STREAM_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def parsed_stream(
    stream: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """parse_stream_stateful + the batch finalize stage (variables,
    redaction, sizes, deterministic ids — all stateless JVM expressions, so
    they ride the same streaming query): a streaming DataFrame with the
    exact PARSED_TURNS sink schema. Tokens are re-derived from the text
    (one extra tokenize pass) rather than serialized through the Arrow
    boundary of the stateful handler — array columns through the state op
    cost more than the re-split."""
    from ..operators.parse import finalize_parsed
    from ..functions.masking import tokens_expr

    config = config or PipelineConfig()
    assigned = parse_stream_stateful(stream, config).withColumn(
        "tokens", tokens_expr(F.col("text"))
    )
    return finalize_parsed(assigned, config)


def _combine(pd, partials):
    """Merge per-chunk signature stats: weights add, ts bounds widen, the
    canonical first occurrence is the lexicographic (conv, turn) minimum."""
    allp = pd.concat(partials, ignore_index=True)
    grp = allp.groupby("masked_sig")
    agg = pd.DataFrame(
        {
            "weight": grp["weight"].sum(),
            "first_seen": grp["first_seen"].min(),
            "last_seen": grp["last_seen"].max(),
        }
    ).reset_index()
    firsts = (
        allp.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .drop_duplicates("masked_sig", keep="first")[
            ["masked_sig", "conv_id", "turn_idx"]
        ]
    )
    return agg.merge(firsts, on="masked_sig")
