"""Deterministic sampling and token-budget packing for training mixes.

A 100 TB corpus job needs sampling that is (a) exactly reproducible across
reruns, cluster sizes, and engines (an audit must be able to re-derive the
training set), and (b) expressible as a pure per-row predicate so it pushes
into the scan. Spark's ``df.sample`` is neither — it is seeded per
PARTITION, so a repartition or a scale-up silently changes the sample.

Both operators here use THREE rounds of the MINSTD multiplicative step over
the row key (Park-Miller constants), reducing the raw key mod M first so a
64-bit snowflake-style id cannot overflow the first multiply:

    h0 = ((key mod M) * 48271 + salt) mod (2^31 - 1)
    h  = (((h0 * 48271) mod M) * 48271) mod M           # M = 2^31 - 1

kept iff h < fraction * M. One round is NOT enough: for sequential keys
below ~44,500 the product never wraps the modulus, so h is monotone in the
key and "sample 10%" keeps the first 10% of ids; the second and third
rounds wrap thousands of times and mix any realistic key range (measured
0.1003 kept of 10k sequential keys at fraction 0.1). Every intermediate
stays under 2^62, so ANSI-mode long multiplication cannot overflow (Spark 4
throws on overflow), and the SAME integer expression runs verbatim in any
SQL engine — the DuckDB oracle recomputes the sample rather than trusting
a seed.

``pack_corpus`` builds the sequence-packing layout LLM pretraining uses:
shard documents deterministically, then first-fit consecutive docs into
token-budget packs via a running sum — one shard-keyed shuffle, the same
single-exchange shape as sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MINSTD_A = 48271
MINSTD_M = (1 << 31) - 1  # 2147483647, prime


def _minstd(key_col, salt: int):
    # cast(lit) to long explicitly: int literal multiply folds 32-bit.
    a = F.lit(MINSTD_A).cast("long")
    m = F.lit(MINSTD_M).cast("long")
    # pmod the RAW key into [0, M) before any multiply: a snowflake-style
    # 64-bit id (~1e18) times 48271 would overflow long and throw under
    # ANSI. After the reduction every intermediate is < M * A < 2^47.
    h = F.pmod(F.col(key_col).cast("long"), m)
    h = F.pmod(h * a + F.lit(int(salt)).cast("long"), m)
    h = F.pmod(h * a, m)
    return F.pmod(h * a, m)


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """Keep ≈``fraction`` of rows, decided per row by the key alone —
    identical at any parallelism, partitioning, or engine. The predicate is
    a pure column expression, so Catalyst pushes it to the scan."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_minstd(key_col, salt) < F.lit(int(fraction * MINSTD_M)).cast("long"))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    salt: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix primitive
    (e.g. keep 100% of high-quality docs, 10% of mid, 1% of low). The
    stratum→threshold map inlines as a CASE expression (strata counts are
    small: languages, quality buckets), so the plan stays a single scan
    filter with no join."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1], got {v}")
    thresh = F.lit(int(default_fraction * MINSTD_M)).cast("long")
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(frac * MINSTD_M)).cast("long")
        ).otherwise(thresh)
    return df.filter(_minstd(key_col, salt) < thresh)


def pack_corpus(
    docs: DataFrame,
    budget_tokens: int,
    n_shards: int = 64,
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: int = 0,
    shard_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Sequence packing: assign each doc to a (shard, pack_id) such that
    consecutive docs in a shard fill ≈``budget_tokens`` per pack.

    Semantics: BUDGET-GRID packing, the window-function-expressible scheme —
    shard = minstd(key) mod n_shards, docs taken in key order, and a doc's
    pack is the budget-quotient of the running token sum BEFORE it. Packs
    therefore span fixed budget-width slices of the cumulative sum: a pack
    overflows by at most its last document, and every doc stays whole, but
    a SINGLE oversized doc (> budget) spans several grid slots, leaving the
    packs adjacent to it under-filled — unlike stateful first-fit, which a
    pure window cannot express. Pre-split oversized docs upstream (they
    exceed the training context anyway) and the two schemes coincide.
    Token count = whitespace tokens (swap in a BPE count upstream by adding
    an ``n_tokens`` column — it is used when already present).

    Scale shape: ONE shuffle by shard (n_shards ≫ executor count keeps
    parallelism), running sum + pack derivation inside the shard window;
    equivalent SQL window functions run in the DuckDB oracle.

    ``shard_col`` / ``order_col`` override the internally-derived shard and
    the key packing order with EXISTING columns — the composition hook for
    shuffled sequence packing: ``pack_corpus(global_shuffle(docs), ...,
    shard_col="shard", order_col="pos_in_shard")`` packs each shard in its
    shuffled position order ((shard, pos_in_shard) is unique, so the window
    order stays deterministic; ``key_col`` remains the final tie-break)."""
    from ..functions.text import lower_tokens

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")

    if "n_tokens" in docs.columns:
        with_tok = docs
    else:
        with_tok = docs.withColumn(
            "n_tokens", F.coalesce(F.size(lower_tokens(F.col(text_col))), F.lit(0))
        )
    shard = (
        F.col(shard_col).cast("long")
        if shard_col is not None
        else F.pmod(_minstd(key_col, salt), F.lit(n_shards).cast("long"))
    )
    order = [order_col, key_col] if order_col is not None else [key_col]
    w = Window.partitionBy("shard").orderBy(*order)
    return (
        with_tok.withColumn("shard", shard)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        # Pack of a doc = budget-quotient of the running sum BEFORE it, so a
        # doc that crosses the boundary finishes its current pack.
        .withColumn(
            "pack_id",
            F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(int(budget_tokens))),
        )
        .select(key_col, "shard", "pack_id", "n_tokens")
    )


def weighted_mixture(
    sources: list[tuple[str, DataFrame, float]],
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Training-mix assembly: union the sources, each deterministically
    down-sampled to its mixture fraction, tagged with ``mix_source``. The
    salt is offset per source so a key present in two sources draws
    INDEPENDENT coin flips — without that, overlapping corpora would be
    kept/dropped in lockstep and skew the realized mix. Same reproducibility
    contract as ``deterministic_sample``: re-running at any parallelism, or
    raising one source's fraction, never changes which OTHER rows are kept.
    Sources must share a schema (the usual curated-doc shape)."""
    if not sources:
        raise ValueError("weighted_mixture needs at least one source")
    parts = []
    for i, (name, df, fraction) in enumerate(sources):
        parts.append(
            deterministic_sample(df, fraction, key_col, salt=salt + i * 1_000_003)
            .withColumn("mix_source", F.lit(name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def temperature_mixture(
    docs: DataFrame,
    alpha: float,
    target_tokens: int,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """T5/Pile-style temperature-weighted source sampling: each source's
    share of the ``target_tokens`` budget is proportional to its token
    mass raised to ``alpha`` (alpha=1 → natural proportions; alpha→0 →
    uniform across sources; 0.3–0.7 are the published LLM-mix settings —
    upweights small high-quality sources without drowning the big crawl).
    Per-source keep fraction = min(1, target_i / mass_i), rounded to 6dp
    (the repo float convention: pow/sum ulps must not flip an integer
    MINSTD threshold), then the suite's standard per-row MINSTD predicate
    decides each doc — scan-pushed, reproducible at any parallelism, and
    SQL-recomputable end to end (the oracle re-derives masses, shares,
    fractions, and draws).

    Returns docs + ``keep_fraction`` + ``kept`` — the decision table (the
    realized mix is ``filter(kept)``). Expected kept token mass per source
    is fraction×mass; a source smaller than its temperature share keeps
    everything (fraction clamps at 1), so the realized total can fall
    short of ``target_tokens`` — by design: temperature sampling never
    upsamples (repeat-epoch upsampling is the training loader's job).

    Scale shape: one map-side-combined groupBy(source) for the masses
    (|sources| rows), fractions via a broadcast join back, then the pure
    per-row predicate — the corpus never shuffles.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if target_tokens < 0:
        raise ValueError(f"target_tokens must be >= 0, got {target_tokens}")
    masses = docs.groupBy(F.col(source_col).alias("_src")).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("_mass")
    )
    denom = masses.agg(
        F.sum(F.pow(F.col("_mass").cast("double"), F.lit(float(alpha)))).alias("_denom")
    )
    fracs = masses.crossJoin(F.broadcast(denom)).select(
        "_src",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(int(target_tokens))
                * F.pow(F.col("_mass").cast("double"), F.lit(float(alpha)))
                / F.col("_denom")
                / F.col("_mass"),
            ),
            6,
        ).alias("keep_fraction"),
    )
    h = _minstd(key_col, salt)
    return (
        # eqNullSafe: the NULL source is a real group (the suite contract —
        # cap_per_group/top_per_group likewise); a plain equi-join would
        # silently drop NULL-source docs from the decision table while
        # their mass still deflated every other source's fraction.
        docs.join(F.broadcast(fracs), docs[source_col].eqNullSafe(F.col("_src")))
        .drop("_src")
        .withColumn(
            "kept",
            h < F.floor(F.col("keep_fraction") * F.lit(MINSTD_M).cast("double")).cast("long"),
        )
    )


def global_shuffle(
    docs: DataFrame,
    n_shards: int = 64,
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic global pseudo-random permutation for training export:
    adds ``shard`` (minstd(key) mod n_shards) and ``pos_in_shard`` (0-based
    rank by an INDEPENDENT second minstd draw, key as tie-break) — together
    a total order over the corpus that is reproducible at any parallelism,
    partitioning, or engine, unlike df.orderBy(rand()). Reading shards in
    index order with each shard in pos order replays the exact same
    training-data order every time; shuffled sequence packing is
    ``pack_corpus(global_shuffle(docs), ..., shard_col="shard",
    order_col="pos_in_shard")`` — the packer reuses this op's shard and
    packs it in shuffled position order.

    Scale shape: ONE exchange by shard and a shard-local sort —
    no global sort. n_shards ≫ executor count keeps parallelism; the
    expected shard imbalance is multinomial (√n), not adversarial, because
    the shard key is a hash, not a data attribute."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # Offset chosen coprime-ish and large so the order draw shares no
    # low-order structure with the shard draw (independent MINSTD streams,
    # same trick as weighted_mixture's per-source salts).
    order_salt = salt + 777_000_001
    w = Window.partitionBy("shard").orderBy("_oh", key_col)
    return (
        docs.withColumn(
            "shard", F.pmod(_minstd(key_col, salt), F.lit(int(n_shards)).cast("long"))
        )
        .withColumn("_oh", _minstd(key_col, order_salt))
        .withColumn("pos_in_shard", F.row_number().over(w) - 1)
        .drop("_oh")
    )


def split_corpus(
    docs: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic, disjoint, exhaustive train/val/test split: one MINSTD
    draw per row partitions [0, M) into consecutive bands, one per label in
    ``fractions`` insertion order (must sum to 1). Every row gets exactly
    one ``split`` label, identical at any parallelism or engine — and
    because all labels share ONE draw, the splits are disjoint by
    construction (per-label deterministic_sample calls would overlap).

    Note the boundary semantics: growing one split's fraction shifts every
    LATER band, so rows can migrate between adjacent splits on a
    re-configure — unlike deterministic_sample's subset monotonicity.
    Pin fractions before any derived artifact is built (the reason this
    returns the label instead of filtered frames: the assignment is the
    auditable artifact).

    Keys must be non-null and castable to long — the shared MINSTD-family
    contract: a NULL/uncastable key hashes to NULL, which
    deterministic_sample silently DROPS and this operator labels
    ``split = NULL`` (exhaustiveness holds over keyable rows only)."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for split {k!r} must be in [0, 1], got {v}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = _minstd(key_col, salt)
    expr = None
    cum = 0.0
    labels = list(fractions.items())
    for i, (label, frac) in enumerate(labels):
        cum += frac
        # Last band catches everything below M exactly — no float-rounding
        # sliver can fall through.
        bound = MINSTD_M if i == len(labels) - 1 else int(cum * MINSTD_M)
        cond = h < F.lit(bound).cast("long")
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return docs.withColumn("split", expr)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: int = 0,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Train/val/test split that can never leak a near-duplicate across the
    boundary: the MINSTD draw is taken over the doc's near-dup COMPONENT id
    (transitive closure of ``pairs`` via ``dedup.connected_components``),
    so every member of a duplicate cluster lands in the SAME split — the
    standard eval-integrity requirement a per-doc split silently violates
    (train/test contamination through paraphrase chains survives even
    after in-split dedup). Docs in no pair split by their own key,
    identical to ``split_corpus`` — adding pairs only ever MERGES draw
    keys, it never reshuffles singletons.

    ``pairs`` is any verified near-dup pair table over the same key space
    (minhash/simhash/embedding — caller's choice of strategy and
    threshold). Returns docs + ``split_key`` (the component id, the
    auditable grouping) + ``split``. Same key contract as the MINSTD
    family: keys non-null, castable to long.

    Scale shape: components cost O(diameter) bounded label-prop rounds over
    the PAIR table (≪ corpus); the assignment join back to docs is one
    equi-join on the key, and the components table (one row per paired doc,
    dup clusters only) is typically broadcastable — Catalyst decides from
    its size estimate, and the split itself stays a per-row predicate
    (scan-pushed, no extra exchange)."""
    from .dedup import connected_components

    comps = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    keyed = docs.join(
        comps.select(
            F.col("doc_id").alias("_lss_id"), F.col("component_id").alias("_lss_comp")
        ),
        F.col(key_col) == F.col("_lss_id"),
        "left",
    ).withColumn("split_key", F.coalesce("_lss_comp", F.col(key_col).cast("long")))
    out = split_corpus(keyed, fractions, key_col="split_key", salt=salt)
    return out.drop("_lss_id", "_lss_comp")


def select_within_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-greedy corpus selection under a global token budget: order
    docs by (quality DESC, id ASC) and keep every doc whose INCLUSIVE
    running token sum fits ``budget_tokens`` — the prefix rule (the first
    overflowing doc and everything after it drop; no skip-and-continue
    knapsack, which would make the decision depend on unbounded lookahead).
    Returns ``(id, quality, tokens, kept)`` — the auditable decision table
    (same contract as split_corpus/dedup_against_index).

    Scale shape — deliberately NOT ``sum(tokens) over (order by quality)``:
    a global running-sum window is a single totally-ordered partition, the
    one shape that cannot scale. Instead quality is rounded to 6dp (the
    repo-wide score convention — at most 1,000,001 distinct values, a
    CONSTANT independent of corpus size), so:

      1. one groupBy(quality value) aggregates per-value token mass — the
         shuffle is bounded by the value count, with map-side combine;
      2. the running mass over the VALUE table runs in one task over ≤ 1e6
         rows (constant work, never corpus-sized), and the single BOUNDARY
         value — the one whose cumulative mass crosses the budget — comes
         back as ONE driver scalar (the same scalar-action class as the
         miner's max-leaf and Lloyd's centroids);
      3. every non-boundary doc is decided by the pure per-row predicate
         ``quality > boundary`` — scan-pushed, zero shuffles, the corpus
         never repartitions;
      4. only the boundary value's docs (one quality slice, filter-pushed
         to the scan) order by id through a running-sum window to spend
         the residual budget. A degenerate corpus where most mass shares
         ONE score re-creates the global window on that slice — real
         scores spread; if yours collapses, bucket finer upstream.

    Cross-engine determinism: quality and the budget comparison are exact
    (token counts are integers; the running sum is integer); ties inside
    the boundary value resolve by ``id_col`` ASC (non-null, unique).
    Rows with a NULL quality or NULL token count are EXCLUDED from the
    decision table (a NULL score is a scoring bug upstream — same contract
    as top_per_group; without the explicit filter they would silently
    match NEITHER branch's quality comparison and vanish only when a
    boundary exists). NaN quality is likewise out of contract (Spark
    orders NaN above every double — it would spend the budget first).
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    budget = F.lit(int(budget_tokens)).cast("long")
    d = docs.select(
        F.col(id_col).alias("_id"),
        F.round(F.col(quality_col), 6).alias("_q"),
        F.col(tokens_col).cast("long").alias("_t"),
    ).filter(F.col("_q").isNotNull() & F.col("_t").isNotNull())
    per_q = d.groupBy("_q").agg(F.sum("_t").alias("_mass"))
    # Running mass over the ≤1e6-row VALUE table: the single-partition sort
    # here is constant-bounded by the 6dp domain, not by the corpus.
    w_q = (
        Window.orderBy(F.desc("_q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_q = per_q.withColumn("_cum", F.sum("_mass").over(w_q))
    # TWO scalars in ONE driver action: the smallest fully-fitting value
    # (kept-threshold) and the single boundary value — the one whose
    # half-open cumulative interval [before, cum) contains the budget.
    # `before <= budget` (not <): when the budget lands EXACTLY on a value
    # edge, the next value still needs the window — its zero-token docs
    # have inclusive cum == budget and must keep under the prefix rule.
    # Exactly one positive-mass interval contains the budget, so max over
    # the predicate is safe.
    is_bnd = (F.col("_cum") - F.col("_mass") <= budget) & (F.col("_cum") > budget)
    agg = cum_q.select(
        F.min(F.when(F.col("_cum") <= budget, F.col("_q"))).alias("fit_q"),
        F.max(F.when(is_bnd, F.col("_q"))).alias("b_q"),
        F.max(F.when(is_bnd, F.col("_cum") - F.col("_mass"))).alias("b_before"),
    ).first()
    base_kept = (
        F.col("_q") >= F.lit(float(agg.fit_q))
        if agg.fit_q is not None
        else F.lit(False)
    )
    out_cols = (
        F.col("_id").alias(id_col),
        F.col("_q").alias("quality"),
        F.col("_t").alias("tokens"),
    )
    if agg.b_q is None:
        return d.select(*out_cols, base_kept.alias("kept"))
    clear = d.filter(F.col("_q") != F.lit(float(agg.b_q))).select(
        *out_cols, base_kept.alias("kept")
    )
    w_id = (
        Window.partitionBy("_q")
        .orderBy(F.asc("_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    on_boundary = (
        d.filter(F.col("_q") == F.lit(float(agg.b_q)))
        .withColumn("_run", F.sum("_t").over(w_id))
        .select(
            *out_cols,
            (
                (F.lit(int(agg.b_before)).cast("long") + F.col("_run")) <= budget
            ).alias("kept"),
        )
    )
    return clear.unionByName(on_boundary)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = 4096,
    salt: int = 0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every ``raw`` document by how much more likely its hashed-n-gram
    features are under the ``target`` distribution than under the raw
    distribution, then draw ``k`` docs WITHOUT replacement by the Gumbel
    top-k trick — the exact reproducible analog of sampling proportionally
    to importance weights:

        lr(b)  = ln((c_tgt(b)+1)/(T_tgt+B)) - ln((c_raw(b)+1)/(T_raw+B))
        log_w(doc) = Σ over the doc's n-gram instances of lr(bucket)
        gumbel_key = log_w - ln(-ln(u)),  u = (minstd(id, salt)+1)/(M+1)

    and the selection is the top ``k`` by (gumbel_key desc, id) — u is the
    suite's 3-round MINSTD draw, so the "randomness" is a pure function of
    the id: identical at any parallelism, partitioning, or engine, the same
    auditability contract as every sampler in this module. Docs with < n
    tokens have no features: log_w = 0 (empty product), so pure Gumbel noise
    decides them — length-gate upstream if that is not wanted.

    Feature buckets use the suite's PORTABLE polynomial token hash
    (functions/text.fingerprint_expr's fold) mod ``buckets``, so a SQL
    oracle can recompute the buckets verbatim — xxhash64 would be faster but
    unverifiable cross-engine, and the bucket count (not the hash) bounds
    every table here anyway.

    Returns (id_col, log_weight, gumbel_key) rounded to 6dp, ``k`` rows;
    join back to ``raw`` for the surviving documents.

    Scale shape: the two count tables are bounded by ``buckets`` after
    map-side combine (a few thousand rows — the log-ratio table BROADCASTS
    onto the corpus gram stream, no shuffled join against data-sized
    tables); totals ride as broadcast one-row aggregates; per-doc Σ is one
    groupBy(id); the selection is a TakeOrdered(k), never a global sort.

    Reference analog: none — part of the training-data suite the brief
    adds."""
    from ..functions.text import lower_tokens, poly_fold_expr

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")

    def _grams(df: DataFrame, with_id: bool) -> DataFrame:
        ids = [F.col(id_col).alias("_id")] if with_id else []
        b = (
            df.select(*ids, lower_tokens(F.col(text_col)).alias("_t"))
            .withColumn("_n", F.size(F.col("_t")))
        )
        bucket_of = lambda i: F.pmod(  # noqa: E731
            poly_fold_expr(F.slice(F.col("_t"), i, n)),
            F.lit(int(buckets)).cast("long"),
        )
        barr = F.when(
            F.col("_n") >= n,
            F.transform(F.sequence(F.lit(1), F.col("_n") - (n - 1)), bucket_of),
        ).otherwise(F.array().cast("array<bigint>"))
        out_ids = ["_id"] if with_id else []
        return b.select(*out_ids, F.explode(barr).alias("b"))

    tgt = _grams(target, with_id=False).groupBy("b").agg(F.count(F.lit(1)).alias("_ct"))
    rawg = _grams(raw, with_id=True)
    rawc = rawg.groupBy("b").agg(F.count(F.lit(1)).alias("_cr"))
    tot = (
        rawc.agg(F.sum("_cr").alias("_tr"))
        .crossJoin(F.broadcast(tgt.agg(F.sum("_ct").alias("_tt"))))
        .select(
            F.coalesce(F.col("_tr"), F.lit(0)).alias("_tr"),
            F.coalesce(F.col("_tt"), F.lit(0)).alias("_tt"),
        )
    )
    B = F.lit(int(buckets)).cast("double")
    lr_table = (
        rawc.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1)) / (F.col("_tt") + B))
                - F.log((F.col("_cr") + F.lit(1)) / (F.col("_tr") + B))
            ).alias("_lr"),
        )
    )
    weights = (
        rawg.join(F.broadcast(lr_table), "b")
        .groupBy("_id")
        .agg(F.sum("_lr").alias("_lw"))
    )
    m1 = float(MINSTD_M + 1)
    u = (_minstd(id_col, salt) + F.lit(1)).cast("double") / F.lit(m1)
    keyed = (
        raw.select(F.col(id_col))
        .join(weights, F.col(id_col) == F.col("_id"), "left")
        .drop("_id")
        .withColumn("_lw", F.coalesce(F.col("_lw"), F.lit(0.0)))
        .withColumn("_gk", F.col("_lw") - F.log(-F.log(u)))
    )
    return (
        keyed.orderBy(F.col("_gk").desc(), F.col(id_col))
        .limit(int(k))
        .select(
            id_col,
            F.round("_lw", 6).alias("log_weight"),
            F.round("_gk", 6).alias("gumbel_key"),
        )
    )


def cap_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Domain capping: keep at most ``k`` rows per ``group_col`` value (URL
    host, crawl source, license bucket ...), chosen as the ``k`` smallest
    (minstd(key), key) pairs — a deterministic uniform draw per group,
    identical at any parallelism, partitioning, or engine, the same
    auditability contract as every sampler in this module. Groups smaller
    than ``k`` survive whole; a NULL group is ONE group (capped like any
    other); keys must be non-null and castable to long (the shared
    MINSTD-family contract) and must identify a row WITHIN its group —
    rows duplicating a kept (group, key) pair all survive together, and
    duplicated keys occupy top-k slots once per occurrence, so the cap is
    only "at most k rows" when keys are unique per group. The same key MAY
    appear under different groups: each group's cap is decided
    independently (the keep join matches on (group, key), never key
    alone).

    Scale shape — deliberately NOT ``row_number() over (partition by
    group)``: a hot domain (half the crawl is one CDN) would concentrate on
    a single reducer. Instead the decision path projects THREE narrow
    columns (group, key, draw), a bounded local prune keeps each input
    partition's k smallest per group (state O(k x groups-in-partition),
    Arrow-batched; a pre-filter can never evict a global top-k row, so the
    prune is exact), and the global stage aggregates <= k x n_partitions
    rows per group — bounded regardless of original skew — with one
    ``array_sort(collect_list)[1:k]`` per group. Kept keys semi-join back
    onto the full rows, so document text never rides through the cap
    decision.

    Reference analog: none — part of the training-data suite the brief
    adds."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    decision = df.select(
        F.col(group_col).alias("_g"),
        F.col(key_col).alias("_k"),
        _minstd(key_col, salt).alias("_h"),
    )
    kept = _k_smallest_per_group(decision, k)
    # eqNullSafe on the group: the NULL group's kept keys must match back
    # (plain = would drop every NULL-group row here). Key alone is NOT
    # enough — one key value kept under group A must not smuggle its group-B
    # twin past B's cap.
    return df.join(
        kept,
        df[group_col].eqNullSafe(kept["_g"]) & (df[key_col] == kept["_k"]),
        "left_semi",
    )


def _k_smallest_per_group(
    decision: DataFrame, k: int, key_cols: tuple[str, ...] = ("_k",)
) -> DataFrame:
    """The window-free exact per-group top-k core shared by
    ``cap_per_group`` and ``top_per_group``: given a NARROW decision table
    (_g group, ``key_cols`` scalar key columns, _h order value — non-null,
    non-NaN), return each group's k smallest (_h, *key_cols) rows as
    (_g, *key_cols). A bounded Arrow local prune keeps each input
    partition's k best per group (a pre-filter can never evict a global
    top-k row, so the prune is exact), then the global stage aggregates
    ≤ k × n_partitions rows per group — bounded regardless of skew, where
    ``row_number() over (partition by group)`` would buffer a hot group on
    one reducer. Key columns must be SCALARS (pandas sorts them in the
    prune; struct keys arrive as unsortable dicts) and the (_h, *keys)
    tuple must be unique per group for the order to be total."""

    def _local_prune(batches):
        import pandas as pd

        carry = None
        for pdf in batches:
            both = pdf if carry is None else pd.concat([carry, pdf], ignore_index=True)
            both = both.sort_values(["_h", *key_cols], kind="mergesort")
            # dropna=False: the NULL group is a real group, same as the
            # global stage's groupBy and the SQL oracle's PARTITION BY.
            carry = both.groupby("_g", dropna=False, sort=False).head(k)
        if carry is not None and len(carry):
            yield carry

    pruned = decision.mapInPandas(_local_prune, schema=decision.schema)
    struct_fields = [F.col("_h").alias("_h")] + [F.col(c).alias(c) for c in key_cols]
    return (
        pruned.groupBy("_g")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct(*struct_fields))),
                1,
                int(k),
            ).alias("_top")
        )
        .select("_g", F.explode("_top").alias("_t"))
        .select("_g", *[F.col(f"_t.{c}").alias(c) for c in key_cols])
    )


def top_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    order_col: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    ascending: bool = False,
) -> DataFrame:
    """Keep each group's k BEST rows by ``order_col`` (score, perplexity,
    recency ...) — ``cap_per_group``'s machinery with a data-driven order
    instead of the uniform MINSTD draw: same narrow (group, keys, order)
    decision path, same bounded local-prune + bounded global aggregate,
    never a row_number window over the group (the hot-group reducer trap).
    Ties break on ``key_cols`` ASCENDING (lexicographic), making selection
    a total order — deterministic at any parallelism, and mirrorable in
    SQL as ``ORDER BY order DESC, key1 ASC, key2 ASC``.
    ``ascending=False`` (default) keeps the k LARGEST order values
    (best-of-n by score); True keeps the smallest (e.g. lowest
    perplexity).

    Order values must be non-null and non-NaN (NaN has no total order
    across engines — pandas sorts it last, Spark first; a NULL/NaN score
    is a scoring bug upstream, filter or impute it there). ``key_cols``
    must be scalar, non-null, and unique per group; string keys compare
    bytewise in Spark/DuckDB vs codepoint-wise in the pandas prune —
    identical for ASCII keys, so keep keys ASCII or numeric.

    Reference analog: none — training-data suite (rejection-sampling /
    best-of-n selection)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = F.col(order_col).cast("double")
    decision = df.select(
        F.col(group_col).alias("_g"),
        *[F.col(c) for c in key_cols],
        (order if ascending else -order).alias("_h"),
    )
    kept = _k_smallest_per_group(decision, k, tuple(key_cols))
    cond = df[group_col].eqNullSafe(kept["_g"])
    for c in key_cols:
        cond = cond & (df[c] == kept[c])
    return df.join(kept, cond, "left_semi")
