"""Distributed Drain template miner (SURVEY §4.3.1) — the heart of the engine.

Scale design (why this survives 100 TB where the reference's global-mutex
tree (drain.go:135-136) cannot):

  stage 1  MASK      — native-expression projection per row: tokens, masked
                       tokens, masked signature, tree-leaf coordinates.
                       Whole-stage codegen, zero Python. (parse.py)
  stage 2  SIG AGG   — ``groupBy(leaf keys, masked_sig)`` with count/min/max.
                       Partial aggregation collapses every input partition to
                       its DISTINCT signatures before the exchange, so the
                       only shuffle of the big pass moves ~|templates|·k rows,
                       not |input| rows. Hot templates (skewed conversations)
                       are absorbed map-side — no salting needed for this agg
                       because the combine is associative.
  stage 3  CLUSTER   — one ``mapInArrow`` pass over leaf-partitioned,
                       leaf-sorted distinct signatures only (thousands, not
                       billions), running sequential Drain per contiguous
                       leaf run in canonical first-occurrence order
                       (_cluster_leaf_runs — one Python call per Arrow
                       batch, not per leaf group).
  stage 4  ASSIGN    — join the (tiny) sig→template map back onto rows.
                       Broadcast by hint or by AQE's runtime size check, so
                       the fact table never shuffles.

Template IDs are FNV-64a of the final template string → pure function of the
template, identical at any parallelism (the N vs 4N executor equality the
north rule demands).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Window, functions as F

from ..config import WILDCARD, DrainConfig, PipelineConfig
from ..schemas import ASSIGNMENTS

_LEAF_KEYS = ["n_tokens", "k0", "k1"]


def leaf_keys_from_sig(max_depth: int = 4, col: str = "masked_sig", with_sig_id: bool = True) -> list:
    """Tree-leaf coordinates + 8-byte join key, derived from the signature
    STRING — applied post-aggregation so only one row per distinct signature
    pays the split (see parse.masked_transcripts on why not at row level).

    Also valid over a TEMPLATE string (``col='template'``): within a leaf the
    first two tokens are the leaf key, so generalize never wildcards them and
    the template's leaf coordinates equal its member signatures'."""
    toks = F.split(F.col(col), " ")
    n = F.size(toks)
    cols = [n.alias("n_tokens")]
    for i in range(max_depth - 2):
        cols.append(F.when(n > F.lit(i + 1), F.element_at(toks, i + 1)).alias(f"k{i}"))
    if with_sig_id:
        cols.append(F.xxhash64(col).alias("sig_id"))
    return cols


def _sig_stats(masked: DataFrame, collect_samples: bool, max_depth: int = 4) -> DataFrame:
    """Stage 2: per-signature stats. ``masked`` must carry conv_id, turn_idx,
    ts, text, masked_sig (from parse.masked_transcripts). The single groupBy
    key is the signature string — the mask expression evaluates exactly once
    per row."""
    aggs = [
        F.count(F.lit(1)).alias("weight"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.min(F.struct("conv_id", "turn_idx")).alias("first_key"),
    ]
    if collect_samples:
        # Bounded: one example row per signature (the canonical first one);
        # the reference never actually populates SampleLogs (drain.go:290,
        # no append anywhere), so even this is a superset of its behavior.
        aggs.append(F.min(F.struct("conv_id", "turn_idx", "text")).alias("first_example"))
    # Empty-sig rows (blank/NULL text) are dropped AFTER the aggregation —
    # a pre-agg filter would reference the sig alias a second time and
    # re-evaluate the mask per row.
    out = masked.groupBy("masked_sig").agg(*aggs).filter(F.col("masked_sig") != "")
    return out.select(
        *leaf_keys_from_sig(max_depth),
        "masked_sig",
        "weight",
        "first_seen",
        "last_seen",
        F.col("first_key.conv_id").alias("first_conv"),
        F.col("first_key.turn_idx").alias("first_turn"),
        *( [F.col("first_example.text").alias("example")] if collect_samples else [] ),
    )


_CLUSTER_OUT = "masked_sig string, template_id string, template string, creates boolean"


def cluster_leaf(
    sigs: list,
    convs: list,
    turns: list,
    seed_patterns: list,
    sim_threshold: float,
) -> tuple[list, list]:
    """The sequential Drain leaf loop (findBestMatch ≥ threshold → generalize,
    else create; drain.go:243-276,345-363) over one leaf's distinct
    signatures, shared by the batch clusterer UDF and the stateful-streaming
    handler so the two paths can never drift.

    ``seed_patterns`` (templates from prior micro-batches / the committed
    dimension — T4 state) become PRE-EXISTING clusters in deterministic
    (pattern-sorted) order before any signature is processed; they emit no
    assignment rows and never anchor ``creates``. Signatures are processed
    in canonical (conv, turn) first-occurrence order — a pure function of
    the input set, independent of partitioning.

    Returns ``(assignments, final_patterns)``: assignments[i] =
    (template_id, template, creates) aligned with the input order of
    ``sigs``; final_patterns = the leaf's cluster templates AFTER this
    batch, deduped and sorted — seeds survive (possibly generalized) even
    when no signature matched them, which is exactly the state the next
    micro-batch must seed from."""
    from .drain_core import WILDCARD, template_id_of

    clusters: list[list] = []  # [tokens, members, anchor]
    for p in sorted(seed_patterns):
        clusters.append([p.split(" "), [], None])
    order = sorted(range(len(sigs)), key=lambda i: (convs[i], turns[i]))

    for i in order:
        tokens = sigs[i].split(" ")
        n = len(tokens)
        best = None
        best_sim = sim_threshold
        for c in clusters:
            t = c[0]
            if len(t) != n:
                continue
            m = 0
            for a, b in zip(t, tokens):
                if a == b or a == WILDCARD:
                    m += 1
            sim = m / n
            if sim >= best_sim and (best is None or sim > best_sim):
                best_sim = sim
                best = c
        if best is None:
            clusters.append([tokens, [i], i])
        else:
            t = best[0]
            best[0] = [a if a == b else WILDCARD for a, b in zip(t, tokens)]
            best[1].append(i)

    by_template: dict[str, tuple[list, set]] = {}
    for c in clusters:
        template = " ".join(c[0])
        slot = by_template.setdefault(template, ([], set()))
        slot[0].extend(c[1])
        if c[2] is not None:  # seed clusters never anchor `creates`
            slot[1].add(c[2])

    assignments = [("", "", False)] * len(sigs)
    for template, (members, anchors) in by_template.items():
        tid = template_id_of(template)
        for i in members:
            assignments[i] = (tid, template, i in anchors)
    return assignments, sorted(by_template)


def _cluster_leaf_runs(slim: DataFrame, sim_threshold: float, with_seeds: bool) -> DataFrame:
    """Stage 3 runner (r6, guide §4.1/§4.2): one ``mapInArrow`` pass over
    leaf-key-partitioned, leaf-key-sorted distinct signatures, running
    ``cluster_leaf`` once per contiguous leaf run.

    Replaces ``groupBy(leaf).applyInPandas``: a text corpus has one leaf per
    (token-count, first-two-tokens) combination — measured 4,857 leaves of
    ~1.2 distinct signatures each on the documents fixture — and
    ``FlatMapGroupsInPandas`` pays one Arrow round-trip plus one pandas
    DataFrame construction PER GROUP (~24 s of Σ task idle per pipeline run
    at sf0.1, ~0.5 ms in actual clustering). Shuffle shape is identical
    (hash exchange on the leaf keys + per-partition sort — the same
    distribution+ordering FlatMapGroupsInPandas requires); the only change
    is one Python invocation per Arrow batch instead of per leaf. Output is
    row-identical: every leaf's rows land in one partition, contiguously,
    and ``cluster_leaf`` orders its input internally by (conv, turn), so
    per-leaf results do not depend on batch boundaries or tie order.
    Memory per task is bounded by one Arrow batch plus the largest single
    leaf — the same bound the per-group form had."""
    cols = ["n_tokens", "k0", "k1", "masked_sig", "first_conv", "first_turn"]
    if with_seeds:
        cols.append("is_seed")
    # Explicit partition count = defaultParallelism (cluster-derived, not a
    # constant): the clusterer's per-partition work is SERIAL Python, and
    # AQE's byte-based coalescing happily folds a few-MB distinct-signature
    # table into 1-2 partitions — measured ~1.7 s of single-task Drain at
    # sf0.1 with 31 cores idle. For a Python stage, parallelism should be
    # sized by cores, not bytes; at scale the distinct-signature table is
    # GBs over thousands of cores — MBs per task either way.
    part = (
        slim.select(*cols)
        .repartition(
            slim.sparkSession.sparkContext.defaultParallelism, *_LEAF_KEYS
        )
        .sortWithinPartitions(*_LEAF_KEYS)
    )

    def run(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("masked_sig", pa.string()),
                ("template_id", pa.string()),
                ("template", pa.string()),
                ("creates", pa.bool_()),
            ]
        )
        cur_key = None
        sigs: list = []
        convs: list = []
        turns: list = []
        seed_f: list = []
        out: list[list] = [[], [], [], []]

        def flush_group():
            if not sigs:
                return
            if with_seeds:
                seeds = [sigs[i] for i in range(len(sigs)) if seed_f[i]]
                real = [i for i in range(len(sigs)) if not seed_f[i]]
            else:
                seeds = []
                real = list(range(len(sigs)))
            assigned, _ = cluster_leaf(
                [sigs[i] for i in real],
                [convs[i] for i in real],
                [turns[i] for i in real],
                seeds,
                sim_threshold,
            )
            # Seed rows are cluster state, not signatures — emit real only.
            out[0].extend(sigs[i] for i in real)
            out[1].extend(a[0] for a in assigned)
            out[2].extend(a[1] for a in assigned)
            out[3].extend(a[2] for a in assigned)
            sigs.clear(), convs.clear(), turns.clear(), seed_f.clear()

        def emit():
            batch = pa.record_batch(
                [pa.array(c, t.type) for c, t in zip(out, out_schema)],
                schema=out_schema,
            )
            for c in out:
                c.clear()
            return batch

        for b in batches:
            d = b.to_pydict()
            nts, k0s, k1s = d["n_tokens"], d["k0"], d["k1"]
            b_sigs, b_convs, b_turns = d["masked_sig"], d["first_conv"], d["first_turn"]
            b_seed = d["is_seed"] if with_seeds else None
            for r in range(b.num_rows):
                key = (nts[r], k0s[r], k1s[r])
                if key != cur_key:
                    flush_group()
                    cur_key = key
                sigs.append(b_sigs[r])
                convs.append(b_convs[r])
                turns.append(b_turns[r])
                if with_seeds:
                    seed_f.append(b_seed[r])
            # Completed groups stream out per input batch; only the open
            # (possibly batch-spanning) leaf stays buffered.
            if out[0]:
                yield emit()
        flush_group()
        if out[0]:
            yield emit()

    return part.mapInArrow(run, schema=_CLUSTER_OUT)


def _split_giant_leaves(slim: DataFrame, cap: int) -> tuple[DataFrame, DataFrame]:
    """Deterministic hash-sample split: leaves with ≤ cap distinct signatures
    pass through whole; bigger leaves keep a ~cap-sized sample (sig selected
    iff xxhash64(sig) mod 1e6 < cap/leaf_n · 1e6 — a pure function of the
    signature string, identical at any parallelism) and the rest become the
    JVM-assigned tail. The window count shuffles by the same leaf keys the
    clustering groupBy needs, so the exchange is reused, not doubled."""
    w = Window.partitionBy(*_LEAF_KEYS)
    with_n = slim.withColumn("leaf_n", F.count(F.lit(1)).over(w))
    in_sample = (F.col("leaf_n") <= cap) | (
        F.pmod(F.xxhash64("masked_sig"), F.lit(1_000_000)) * F.col("leaf_n")
        < F.lit(int(cap) * 1_000_000).cast("long")
    )
    return with_n.filter(in_sample).drop("leaf_n"), with_n.filter(~in_sample).drop("leaf_n")


def _assign_tail(tail: DataFrame, clustered: DataFrame, drain: DrainConfig) -> DataFrame:
    """Giant-leaf tail assignment, JVM-side: each unsampled signature joins
    the (broadcast) templates mined from its leaf's sample; token similarity
    = Drain's match fraction with wildcard match (drain.go:345-363) via
    zip_with; best match ≥ sim_threshold wins (ties → max struct order,
    deterministic). Unmatched sigs fall back to SINGLETON templates — their
    own signature — with IDs from the batch-vectorized FNV kernel.

    Documented divergence from exact sequential Drain: tail sigs never
    generalize a mined template further, and two unmatched tail sigs never
    merge with each other. Both keep the path O(|tail|·|mined|) fully
    parallel instead of one O(|leaf|·|clusters|) Python task."""
    from .drain_core import template_ids_batch

    mined = (
        clustered.select(
            *leaf_keys_from_sig(col="template", with_sig_id=False),
            "template_id",
            "template",
        )
        .distinct()
        # Pre-split ONCE per template — the join below fans out to
        # |tail|·|mined-per-leaf| rows, and splitting inside the join
        # condition would re-tokenize both strings per joined row.
        .withColumn("t_toks", F.split("template", " "))
    )
    # Only leaves that actually have a tail matter — semi-join against that
    # (tiny) key set so the broadcast carries giant-leaf templates only.
    giant_keys = tail.select(*_LEAF_KEYS).distinct()
    keys_eq = lambda l, r: functools.reduce(  # noqa: E731
        operator.and_, [F.col(f"{l}.{k}").eqNullSafe(F.col(f"{r}.{k}")) for k in _LEAF_KEYS]
    )
    mined_g = mined.alias("m").join(
        F.broadcast(giant_keys.alias("g")), keys_eq("m", "g"), "left_semi"
    )

    # The tail arrives hash-partitioned by LEAF keys (from the window count),
    # i.e. one giant leaf = ONE partition — exactly the serial hotspot this
    # path exists to remove. Re-spread by signature so the broadcast join +
    # similarity scan parallelize across all cores.
    tail = tail.repartition(F.col("masked_sig")).withColumn("s_toks", F.split("masked_sig", " "))
    j = tail.alias("t").join(F.broadcast(mined_g.alias("md")), keys_eq("t", "md"), "left")
    matches = F.zip_with(
        F.col("md.t_toks"),
        F.col("t.s_toks"),
        lambda a, b: (a == b) | (a == F.lit(WILDCARD)),
    )
    sim = F.size(F.filter(matches, lambda x: x)) / F.col("t.n_tokens").cast("double")
    best = (
        j.withColumn("sim", sim)
        .groupBy(F.col("t.masked_sig").alias("masked_sig"))
        .agg(
            F.max(
                F.when(
                    F.col("sim") >= F.lit(drain.sim_threshold),
                    F.struct(
                        F.col("sim").alias("sim"),
                        F.col("md.template_id").alias("template_id"),
                        F.col("md.template").alias("template"),
                    ),
                )
            ).alias("m")
        )
    )
    # ``best`` feeds both the matched and the singleton branches below;
    # caching keeps the tail join single-execution (one row per tail sig,
    # empty for non-giant corpora).
    best = best.persist()
    matched = best.filter(F.col("m").isNotNull()).select(
        "masked_sig",
        F.col("m.template_id").alias("template_id"),
        F.col("m.template").alias("template"),
        F.lit(False).alias("creates"),
    )

    def add_singleton_ids(it):
        import pyarrow as pa

        for b in it:
            sigs = b.column("masked_sig")
            yield pa.record_batch(
                [
                    sigs,
                    pa.array(template_ids_batch(sigs.to_pylist()), pa.string()),
                    sigs,
                    pa.array([True] * b.num_rows, pa.bool_()),
                ],
                names=["masked_sig", "template_id", "template", "creates"],
            )

    singles = (
        best.filter(F.col("m").isNull())
        .select("masked_sig")
        .mapInArrow(add_singleton_ids, schema=_CLUSTER_OUT)
    )
    return matched.unionByName(singles)


def mine_assignments(
    masked: DataFrame,
    config: PipelineConfig | None = None,
    seed_templates: DataFrame | None = None,
) -> DataFrame:
    """Stages 2+3: masked rows → per-signature template assignments.

    ``sig_stats`` feeds the clusterer (slim columns through Arrow) AND the
    stats join-back; without caching, both branches would re-run the full
    input aggregation. It is one row per distinct signature — small by the
    same assumption that makes the whole design work. Leaves whose distinct-
    signature count exceeds ``drain.giant_leaf_threshold`` are mined on a
    hash-sample with JVM tail assignment (see _split_giant_leaves /
    _assign_tail) so no single Python task scales with corpus cardinality.

    ``seed_templates`` (TEMPLATES-schema rows, e.g. the dimension committed by
    prior micro-batches — T4) pre-populate the per-leaf clusterers: new sigs
    matching a known template at ≥ sim_threshold reuse it (or generalize it)
    instead of founding a finer-grained cluster.
    """
    config = config or PipelineConfig()
    sig_stats = _sig_stats(masked, collect_samples=False, max_depth=config.drain.max_depth).persist()
    slim = sig_stats.select(*_LEAF_KEYS, "masked_sig", "first_conv", "first_turn")
    seeds = None
    if seed_templates is not None:
        seeds = seed_templates.select(
            *leaf_keys_from_sig(col="pattern", with_sig_id=False),
            F.col("pattern").alias("masked_sig"),
            F.lit("").alias("first_conv"),
            F.lit(-1).alias("first_turn"),
            F.lit(True).alias("is_seed"),
        ).distinct()
        slim = slim.withColumn("is_seed", F.lit(False))
    cap = config.drain.giant_leaf_threshold
    # One tiny aggregation job over the (cached) distinct-signature table
    # decides whether any leaf actually exceeds the cap — the common case
    # (no giant leaves) then takes the exact path with ZERO extra plan
    # machinery (measured ~1.7× pipeline overhead when the guard subtree
    # is built unconditionally). Deterministic: a pure count, independent
    # of partitioning.
    max_leaf = slim.groupBy(*_LEAF_KEYS).count().agg(F.max("count")).collect()[0][0]
    if max_leaf is None or max_leaf <= cap:
        grouped = slim if seeds is None else slim.unionByName(seeds)
        clustered = _cluster_leaf_runs(grouped, config.drain.sim_threshold, seeds is not None)
    else:
        sample, tail = _split_giant_leaves(slim, cap)
        if seeds is not None:
            # Seeds always mine with the sample — they are cluster state, and
            # must never be hash-partitioned into the tail.
            sample = sample.unionByName(seeds)
        # The clustered table feeds BOTH union branches (direct + the
        # tail-template join); without caching, the Python clustering stage
        # would execute once per branch (subtrees above a reused exchange
        # are not deduplicated). One row per sampled signature — same small
        # scale as sig_stats.
        clustered = _cluster_leaf_runs(sample, config.drain.sim_threshold, seeds is not None).persist()
        clustered = clustered.unionByName(_assign_tail(tail, clustered, config.drain))
    # Join the stats back onto the tiny clustered table (both sides are one
    # row per distinct signature).
    return clustered.join(
        sig_stats.select(
            "sig_id", "masked_sig", "weight", "first_seen", "last_seen",
            "first_conv", "first_turn",
        ),
        on="masked_sig",
    ).select("sig_id", *[f.name for f in ASSIGNMENTS.fields])


def templates_from_assignments(assignments: DataFrame) -> DataFrame:
    """Templates dimension (drain.go:36-45 / 001_clickhouse_schema.sql:26-34):
    upsert semantics = groupBy(template_id) min/max/sum, replacing the
    reference's ReplacingMergeTree(last_seen)."""
    t = (
        assignments.groupBy("template_id", "template")
        .agg(
            F.sum("weight").alias("log_count"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        )
        .select(
            "template_id",
            F.col("template").alias("pattern"),
            F.split("template", " ").alias("tokens"),
            "log_count",
            "first_seen",
            "last_seen",
            F.array().cast("array<string>").alias("sample_logs"),
        )
    )
    return t


def assign_templates(
    masked: DataFrame,
    assignments: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Stage 4: attach template_id/template/is_new to every row.

    Left join keeps empty-text rows (the reference's Parse errors on them,
    cmd/ingestion drops the message; we keep the row with a null template so
    per-turn text equality still holds end-to-end). ``config`` is accepted
    for symmetry with the other stages; no field of it applies here.
    """
    amap = assignments.select(
        "masked_sig", "template_id", "template", "creates", "first_conv", "first_turn"
    )
    # Broadcast: the map is one row per distinct signature — small by
    # design — and without the hint Spark falls back to a sort-merge join
    # past the 10 MB auto threshold, shuffling the whole fact table on
    # string keys (measured as the write stage's dominant cost).
    amap = F.broadcast(amap)
    # Join on the signature STRING, not its 64-bit hash: the map side is tiny
    # and broadcast, so the wider key costs little, and at 10^12-turn scale a
    # birthday collision between two distinct signatures' xxhash64 would
    # silently duplicate both signatures' rows with wrong templates. The
    # masked_sig column is the only masked-derived expression in this pass —
    # one mask evaluation per row, total.
    joined = masked.join(amap, on="masked_sig", how="left")
    return joined.withColumn(
        "is_new",
        F.when(F.col("template_id").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.col("creates")
            & (F.col("conv_id") == F.col("first_conv"))
            & (F.col("turn_idx") == F.col("first_turn"))
        ),
    ).drop("creates", "first_conv", "first_turn")
