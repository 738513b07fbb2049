"""Streaming equivalents of the batch pipeline (SURVEY §2.9 T1-T8, §2.1 S16).

Reference semantics being replaced:
  - push ingest over HTTP → worker pool with drop-on-full at-most-once
    (internal/pipeline/worker.go:162-179) → here: exactly-once micro-batches
    with event-time watermarks (a strict upgrade; T2/T3).
  - per-record trailing-window anomaly checks (cmd/anomaly/main.go:96,110) →
    sliding event-time windows (T7).
  - the Drain tree as unbounded mutex-guarded state (drain.go:17-26) →
    foreachBatch incremental mining: each micro-batch mines against the
    templates table committed by prior batches (T4), keeping template IDs
    stable because they are pure functions of the template string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import PipelineConfig
from ..operators.miner import templates_from_assignments
from ..operators.route import severity_class_expr
from ..schemas import TRANSCRIPTS
from ..sources.manifest import SnapshotStore


def stream_transcripts(spark: SparkSession, path: str, max_files: int = 10) -> DataFrame:
    """S16 — the streaming read surface (declared but unimplemented in the
    reference, api/proto/compression.proto:113-117)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_error_rates(transcripts: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """A3/T6 as a streaming windowed aggregate with late-data handling the
    reference lacks (it windows on arrival time, cmd/anomaly/main.go:121)."""
    sev = severity_class_expr(F.col("text"))
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("minute"), F.col("role").alias("source"))
        .agg(
            F.count(F.when(sev == "error", 1)).alias("error_count"),
            F.count(F.when(sev == "warn", 1)).alias("warn_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
    )


def _checkpoint_lineage(root: str, query_name: str, checkpoint_location: str | None) -> tuple[str, str]:
    """Resolve the checkpoint dir and its lineage id (shared by every
    foreachBatch pipeline; ONE implementation so the stale-commit guard
    cannot drift between paths).

    Epoch ids are only unique WITHIN one checkpoint lineage: a deleted
    checkpoint restarts epochs at 0 over re-batched input, and a bare
    epoch-keyed run_id would then match an old commit and silently DROP the
    new batch. Pin a lineage uuid INSIDE the checkpoint dir (same lifecycle
    by construction): fresh checkpoint → fresh lineage → replays commit
    fresh (worst case duplicates, never loss); same checkpoint → replayed
    epochs dedup. Callers that want a non-default checkpoint MUST pass
    checkpoint_location to the pipeline rather than a later
    .option("checkpointLocation") — an .option override would leave the
    lineage file under the default path with a different lifecycle than the
    offset log, re-opening the stale-commit data-loss window this file
    exists to close."""
    import os
    import uuid

    ck = checkpoint_location or os.path.join(root, "_checkpoint", query_name)
    os.makedirs(ck, exist_ok=True)
    lineage_file = os.path.join(ck, "_lineage")
    if not os.path.exists(lineage_file):
        with open(lineage_file, "w") as fh:
            fh.write(uuid.uuid4().hex)
    with open(lineage_file) as fh:
        return ck, fh.read().strip()


def _merge_templates(store: SnapshotStore, templates: DataFrame) -> DataFrame:
    """Upsert the batch's templates into the committed dimension: prior ∪
    new, read back as assignment rows (pattern → template, log_count →
    weight), through the one upsert rule ``miner.templates_from_assignments``
    (U1 semantics: groupBy sum/min/max; ReplacingMergeTree analog). Every
    stored row has tokens = split(pattern) and no sample logs, which is what
    that rule re-derives. Template ids are content hashes, so the merge is
    idempotent by value."""
    try:
        prior = store.read("stream_templates")
    except FileNotFoundError:
        return templates
    return templates_from_assignments(
        prior.unionByName(templates).select(
            "template_id",
            F.col("pattern").alias("template"),
            F.col("log_count").alias("weight"),
            "first_seen",
            "last_seen",
        )
    )


def _commit_epoch(
    store: SnapshotStore, lineage: str, epoch_id: int, parsed: DataFrame, templates: DataFrame
) -> None:
    """Commit one micro-batch to both durable sinks exactly once: the parsed
    rows as an epoch of ``stream_parsed``, then ``templates`` merged into
    ``stream_templates``, both under one lineage-scoped run_id so a
    replayed epoch dedups and a crash cannot leave the sinks inconsistent."""
    run_id = f"{lineage}_epoch_{epoch_id}"
    store.commit(
        parsed,
        "stream_parsed",
        run_id=run_id,
        skip_if_committed=True,
        # Epochs are APPEND data (read_all = union of all of them);
        # tagging at commit time lets maintenance refuse keep_last
        # pruning even if the operator forgets to declare this sink.
        marker_extra={"append_style": True},
    )
    # Templates are a replace-style sink (read() = latest merged state):
    # a replayed epoch recommitting the same merge is idempotent by
    # value, and the lineage-scoped run_id dedups sequential replays.
    store.commit(
        _merge_templates(store, templates),
        "stream_templates",
        run_id=run_id,
        skip_if_committed=True,
    )


def pin_stream_file_order(input_path: str) -> None:
    """Pin FileStreamSource trigger order to PATH order: the source orders
    files by mtime and a single write stamps every part file identically,
    so trigger order would be listing-dependent. Setting mtimes to ascending
    path order makes part-00000 (the lowest range key under
    repartitionByRange) the first trigger — the canonical-order prerequisite
    for per-turn is_new convergence (docs/streaming.md §contract). Template
    aggregates are order-insensitive and don't need this."""
    import glob
    import os

    for i, f in enumerate(sorted(glob.glob(os.path.join(input_path, "part-*")))):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))


def incremental_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    config: PipelineConfig | None = None,
    query_name: str = "logmind_stream",
    checkpoint_location: str | None = None,
):
    """T4 — foreachBatch incremental parse+mine. Each micro-batch mines with
    the templates committed by prior batches as SEED clusters (they
    pre-populate the per-leaf clusterers, so a turn matching a known template
    reuses it instead of founding a finer-grained one — the Drain-tree-state
    analog of drain.go:17-26), then MERGEs the template dimension into the
    snapshot store (upsert = groupBy min/max/sum — U1 semantics). Template
    IDs are content hashes, so re-mining a template already known yields the
    same ID and the merge is idempotent (exactly-once sinks)."""
    from ..operators.parse import parse_pipeline

    config = config or PipelineConfig()
    store = SnapshotStore(spark, root)
    ck, lineage = _checkpoint_lineage(root, query_name, checkpoint_location)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            seed = store.read("stream_templates")
        except FileNotFoundError:
            seed = None
        parsed, templates, _ = parse_pipeline(batch_df, config, seed_templates=seed)
        _commit_epoch(store, lineage, epoch_id, parsed, templates)

    return (
        stream.writeStream.outputMode("update")
        .queryName(query_name)
        .foreachBatch(process)
        # Checkpoint under the warehouse root by default, namespaced by query
        # name (two queries over one warehouse must not share offset logs) —
        # a restarted query RESUMES from the last processed file instead of
        # replaying epochs from zero. Override via the checkpoint_location
        # PARAMETER, never a later .option: the lineage file above must share
        # the offset log's lifecycle (see comment there).
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )


def stateful_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    config: PipelineConfig | None = None,
    query_name: str = "logmind_stateful",
    checkpoint_location: str | None = None,
):
    """The HYBRID streaming path (docs/streaming.md): per-turn parse via the
    state-store miner (streaming.stateful_miner.parsed_stream — mining state
    in the checkpoint, per-turn assignment inside the query, no dimension
    re-read per trigger) + foreachBatch committing BOTH durable sinks to the
    SnapshotStore with the same lineage-scoped exactly-once run_ids as
    incremental_pipeline.

    Per epoch it commits the parsed rows (append-style epochs) and merges
    the template dimension re-derived FROM those parsed rows — template_id
    is a content hash and log_count adds, so the merge is idempotent and a
    replayed epoch dedups on its run_id. Unlike incremental_pipeline, the
    per-trigger cost never touches the committed dimension (state carries
    the tree), and unlike a bare parsed_stream parquet sink, a crash cannot
    leave the two sinks inconsistent: both commit under one epoch run_id.

    Same exact-convergence contract as the underlying operator: trigger
    order aligned with canonical (conv, turn) order and no cross-trigger
    template generalization."""
    from .stateful_miner import parsed_stream

    config = config or PipelineConfig()
    store = SnapshotStore(spark, root)
    ck, lineage = _checkpoint_lineage(root, query_name, checkpoint_location)

    def process(parsed_batch: DataFrame, epoch_id: int) -> None:
        parsed_batch = parsed_batch.persist()
        try:
            # One assignment row per turn: weight 1, its ts as both bounds.
            templates = templates_from_assignments(
                parsed_batch.filter(F.col("template_id").isNotNull()).select(
                    "template_id",
                    "template",
                    F.lit(1).alias("weight"),
                    F.col("ts").alias("first_seen"),
                    F.col("ts").alias("last_seen"),
                )
            )
            _commit_epoch(store, lineage, epoch_id, parsed_batch, templates)
        finally:
            parsed_batch.unpersist()

    return (
        parsed_stream(stream, config)
        .writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(process)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Dedup-at-ingestion (U1's streaming analog): drop every document whose
    whitespace/case-normalized text was already seen, keeping the first
    arrival. State = one normalized-text key per distinct document in the
    state store, recovered across restarts — a duplicate arriving in a later
    micro-batch (or after a restart) is still dropped.

    With ``ts_col`` set, ``dropDuplicatesWithinWatermark`` bounds the state:
    a key unseen for longer than the watermark is evicted, so state size
    tracks the dedup WINDOW, not corpus history — the knob that makes this
    runnable forever on an unbounded crawl (re-crawls beyond the window are
    then admitted; that is the documented trade, and exact global dedup over
    history is the batch operator's job). Without ``ts_col`` the state is
    unbounded, exact, and right for bounded replays.

    Which physical row survives a within-batch tie is partition-order
    dependent (Spark's dropDuplicates keeps an arbitrary first); the
    DETERMINISTIC surface is the kept key set — project the normalized key
    (or re-derive per-key aggregates downstream) when exact row identity
    matters."""
    from ..operators.dedup import normalized_text

    keyed = docs_stream.withColumn("_norm", normalized_text(F.col(text_col)))
    if ts_col is not None:
        return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_norm"]
        )
    return keyed.dropDuplicates(["_norm"])


def streaming_contamination_alerts(
    docs_stream: DataFrame,
    blocklist: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "text",
    n: int = 13,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Benchmark-contamination alerts AT INGESTION: every streamed document
    sharing at least one exact case-folded word n-gram with the STATIC
    ``blocklist`` (benchmark corpus) emits one alert row (its id) — the
    streaming complement of the batch ``curate.exact_contamination`` audit,
    sharing its gram-identity definition verbatim
    (curate.distinct_gram_hashes), so ingestion and audit can never disagree
    on what counts as a hit.

    Scale shape: the gram projection is row-local; the hit test is a
    STREAM-STATIC inner equi-join on 8-byte gram hashes with the blocklist
    side broadcast — stateless (stream-static joins keep no state; the
    static side is re-broadcast per trigger, fine for a benchmark-sized
    list). The only state is the alert dedup (one key per CONTAMINATED doc
    — bounded by contamination volume, not corpus size; a doc hitting many
    grams, or re-ingested in a later trigger, alerts once).

    With ``ts_col`` set the alert dedup uses
    ``dropDuplicatesWithinWatermark`` — same knob as
    ``streaming_exact_dedup``: a contaminated doc unseen for longer than
    the ``watermark`` is evicted from state, so an unbounded crawl hitting
    benchmark mirrors forever stays bounded (the trade: the SAME doc
    re-ingested beyond the window alerts again — downstream consumers
    dedup on id, which the batch audit does anyway). Without ``ts_col``
    alert-once is exact over all history.

    Reference analog: none — the streaming half of the training-data
    decontamination suite the brief adds."""
    from ..operators.curate import blocklist_gram_set, distinct_gram_hashes

    extra = (ts_col,) if ts_col is not None else ()
    exploded = distinct_gram_hashes(docs_stream, id_col, text_col, n, extra).select(
        F.col("_id").alias(id_col), *extra, F.explode("_gh").alias("_h")
    )
    block_set = blocklist_gram_set(blocklist, id_col, text_col, n)
    hits = exploded.join(F.broadcast(block_set), "_h")
    if ts_col is not None:
        return (
            hits.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark([id_col])
            .select(id_col)
        )
    return hits.select(id_col).dropDuplicates([id_col])


def streaming_index_admission(
    docs_stream: DataFrame,
    index: DataFrame,
    base_docs: DataFrame,
    audit_path: str,
    checkpoint_location: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
):
    """Near-dup admission AT INGESTION against a prebuilt MinHash index
    (``dedup.build_minhash_index``): every micro-batch of crawled documents
    is audited with ``dedup_against_index`` and its (id, n_base_dups, kept)
    decisions land in ``audit_path`` — the streaming half of the
    incremental-ingestion loop (batch half: ``incremental_dedup``; index
    maintenance: ``extend_minhash_index``).

    Composes EXACTLY: each doc's decision depends only on the STATIC
    index/base, never on other streamed docs, so the union of per-batch
    audits equals the one-shot batch audit no matter how ingestion is
    chunked — asserted by the contract query against the same oracle.
    (Intra-stream near-dups are deliberately not deduped here — that is
    ``streaming_exact_dedup``'s state-store job for exact copies, and the
    batch LSH self-join for fuzzy ones after admission.)

    The audit is the aggregation of a micro-batch (shingle explode →
    groupBy) — a shape Structured Streaming cannot run as one continuous
    query without watermark gymnastics, and which needs TWO joins against
    static tables; foreachBatch is the designed tool. Exactly-once: each
    batch OVERWRITES its own ``batch=<id>`` subdirectory, so a post-write
    pre-commit crash replays idempotently (the standard idempotent
    foreachBatch pattern; same crash-window reasoning as the Iceberg
    resume path).

    Returns the DataStreamWriter (availableNow trigger) — caller calls
    ``.start()`` and awaits."""
    from ..operators.dedup import dedup_against_index

    def _admit(batch_df, batch_id):
        audit = dedup_against_index(
            batch_df, index, base_docs, id_col, text_col, threshold, k, bands, shingle_n
        )
        audit.write.mode("overwrite").parquet(f"{audit_path}/batch={batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
    )
