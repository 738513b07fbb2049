"""Deduplication suite for large-scale training-data pipelines.

Five strategies, each scale-shaped for 100 TB:

  exact          — hash-groupBy on the normalized text; map-side combine, one
                   shuffle of distinct hashes. Keep min(doc_id) per group.
  minhash LSH    — shingle → k minhashes via k seeded xxhash64 (all JVM-side,
                   no Python) → band buckets → candidate pairs via bucket
                   self-join → exact-Jaccard verify on candidates only.
  simhash        — 64-bit majority-vote fingerprint per doc, all JVM-side:
                   explode(tokens) → xxhash64 → 64 conditional-sum bit votes;
                   near-dups = identical simhash (or identical band for
                   hamming≤k via rotations).
  n-gram Jaccard — exact token-shingle Jaccard via explode + equi-join +
                   group count; a candidate set prunes BEFORE the self-join.
  embedding      — cosine near-dup over array<float>; brute-force on
                   candidates from LSH hyperplane buckets (similarity.py).

All thresholds/seeds are parameters; everything is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import lower_tokens, word_ngrams_expr


def normalized_text(col):
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact normalized text. The groupBy
    key is the xxhash64 of the text, so the shuffle moves 8-byte keys, not
    documents; a second pass joins survivors back (here: min_by avoids it)."""
    return (
        docs.groupBy(F.xxhash64(normalized_text(F.col(text_col))).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _distinct_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int, out_id: str = "id"
) -> DataFrame:
    """(out_id, shingle): one row per distinct word n-gram of each doc's
    normalized text (text.word_ngrams_expr — a doc shorter than ``n``
    tokens yields no rows). Every shingle-set path (MinHash bands, n-gram
    Jaccard, the candidate verify) starts from this explode."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    return docs.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array_distinct(word_ngrams_expr(toks, n))).alias("shingle"),
    )


def minhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band table — the join key both the
    self-join (``minhash_lsh_candidates``) and the cross-corpus join
    (``cross_corpus_near_dups``) bucket on. Explode to one row per distinct
    shingle, then k min-aggregates: the shingle expression evaluates ONCE
    per row (a nested k-way expression tree would inline it k times —
    measured 32× slower and a codegen blowup), and groupBy(min) combines
    map-side, so the shuffle moves one k-wide row per document."""
    if k % bands != 0:
        raise ValueError(f"k ({k}) must be divisible by bands ({bands})")
    rows_per_band = k // bands
    exploded = _distinct_shingles(docs, id_col, text_col, shingle_n)
    # r6: one server-parsed expression instead of k Column-API chains —
    # the per-seed F.min(F.xxhash64(F.lit(i), ...)) loop cost ~4 py4j
    # round trips per seed of pure DataFrame build time (see simhash_table
    # for the measurement). `{i}` parses as the same IntegerType literal
    # F.lit(i) produced, so the seeded hashes are bit-identical (pinned by
    # the minhash_candidates oracle).
    sig = exploded.groupBy("id").agg(
        F.expr(
            "array(" + ", ".join(f"min(xxhash64({i}, shingle))" for i in range(k)) + ")"
        ).alias("sig")
    )
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band bucket.
    band hash = xxhash64 of the band's rows-per-band minhash slice; the
    self-join runs per (band_idx, band_hash) bucket, so cost is Σ bucket²,
    not n² — the LSH scale path."""
    banded = minhash_banded(docs, id_col, text_col, k, bands, shingle_n)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs (or a candidate pair set from LSH).
    explode → equi-join on shingle → |∩| per pair; |∪| = sa + sb − |∩|."""
    sh = _distinct_shingles(docs, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is not None:
        # Prune BEFORE the self-join: Catalyst cannot push a pair-level
        # semi-join through the aggregation, so filtering `inter` alone would
        # still pay the full all-pairs shingle join. Restricting the exploded
        # shingle table to candidate doc ids first means the expensive join
        # runs only over candidate docs; the pair-level semi-join below then
        # drops cross pairs between unrelated candidates.
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .union(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        a = sh.join(F.broadcast(cand_ids), "id", "left_semi").alias("a")
        b = sh.join(F.broadcast(cand_ids), "id", "left_semi").alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("sa"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side (zero Python in the plan):

      explode(tokens) → xxhash64(token) → 64 conditional sums (one per bit,
      vote = ±1) → reassemble the fingerprint from the vote signs.

    The groupBy(id) with 64 sum aggregates combines map-side, so the shuffle
    moves one 64-wide row per document per input partition — not one row per
    token. Deterministic: xxhash64 is a pure function of the token bytes, and
    integer sums are order-independent, so the fingerprint is identical at any
    parallelism. Docs with no tokens get simhash 0 (all votes empty) and
    n_tokens 0 — downstream pair joins use n_tokens to keep the vacuous
    fingerprint out of hot buckets (see simhash_near_dup_pairs)."""
    toks = lower_tokens(F.col(text_col))
    # id keeps its source type: casting to long would NULL every string id
    # (e.g. conv ids) and silently return zero pairs downstream.
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(toks).alias("tok"),
    ).select("id", F.when(F.col("tok").isNotNull(), F.xxhash64("tok")).alias("h"))
    # r6: each vote/reassembly term is ONE server-parsed F.expr string —
    # the original per-term Column-API chains cost ~8 py4j round trips
    # per bit (~500 total), which was measured as 1.0-1.8 s of pure
    # DataFrame BUILD time per call (Catalyst planning itself is ~0.05 s
    # warm). Semantically identical: sum() skips the NULL rows that
    # explode_outer emits for token-less docs (the old form said so with
    # an explicit WHEN h IS NOT NULL), and shiftleft(1L, i) is the same
    # constant-folded bit the Column chain built.
    votes = [
        F.expr(f"sum((shiftrightunsigned(h, {i}) & 1L) * 2L - 1L)").alias(f"b{i}")
        for i in range(64)
    ]
    agg = exploded.groupBy("id").agg(*votes, F.count(F.col("h")).alias("n_tokens"))
    sim = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN b{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
            for i in range(64)
        )
    )
    return agg.select("id", sim.alias("simhash"), "n_tokens")


def simhash_near_dups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs whose simhash collides exactly (hamming 0) — groupBy fingerprint.
    For hamming ≤ k use ``simhash_near_dup_pairs`` (band join + exact verify)."""
    sh = simhash_table(docs, id_col, text_col)
    return (
        sh.groupBy("simhash")
        .agg(F.collect_list("id").alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def _bit_bands(col: str, n_bits: int, bands: int) -> Column:
    """``band`` = explode of ``bands`` equal-width slices of the low
    ``n_bits`` of the long column ``col``, one struct(band_idx, band_val)
    per slice: the band-join key of the simhash and hyperplane-bucket
    self-joins."""
    if n_bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide the bit width ({n_bits})")
    width = n_bits // bands
    mask = F.lit((1 << width) - 1).cast("long")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftrightunsigned(col, b * width).bitwiseAND(mask).alias("band_val"),
                )
                for b in range(bands)
            ]
        )
    ).alias("band")


def simhash_banded(sh: DataFrame, bands: int) -> DataFrame:
    """Explode a simhash table into (id, simhash, band_idx, band_val) rows —
    the join-key table ``simhash_near_dup_pairs`` self-joins. Public so cost
    evidence (similarity.bucket_stats over ["band_idx", "band_val"]) can be
    computed on the EXACT table the operator joins."""
    return sh.select("id", "simhash", _bit_bands("simhash", 64, bands)).select(
        "id", "simhash", "band.band_idx", "band.band_val"
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Hamming ≤ k near-dup pairs over the 64-bit simhash — EXACT, not
    approximate: with ``bands`` equal-width slices and ``k < bands``, any two
    fingerprints within hamming k must agree on at least one whole slice
    (pigeonhole: k differing bits can touch at most k < bands slices), so the
    per-(band_idx, band_val) self-join has total recall; the in-bucket
    ``bit_count(xor) ≤ k`` verify removes false band collisions.

    100 TB shape: simhash_table is one shuffle with map-side combine; the
    band explode is 4 rows per doc of (long, long, long); join cost is
    Σ bucket² per band value, exactly the minhash-LSH shape — never an
    all-pairs pass. Everything is JVM expressions (popcount via bit_count),
    zero Python.

    HOT-BUCKET GUARD: every token-less doc fingerprints to simhash 0, so on
    a raw crawl with M empty/whitespace docs, band value 0 of EVERY band
    becomes one M-sized bucket and the join goes quadratic in M — while the
    M·(M−1)/2 "pairs" it would emit say nothing about content similarity
    (hamming over vacuous fingerprints). Token-less docs are therefore
    excluded from the band join entirely; callers that care about them get
    the single trivial group from ``simhash_near_dups`` (groupBy fingerprint,
    linear) or ``exact_dups`` instead."""
    if not 0 <= k < bands:
        raise ValueError(f"k ({k}) must satisfy 0 <= k < bands ({bands}) for exact recall")
    sh = simhash_table(docs, id_col, text_col).filter(F.col("n_tokens") > 0)
    banded = simhash_banded(sh, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = 8,
    seed: int = 42,
    dim: int | None = None,
    corpus_count: int | None = None,
    bands: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH hyperplane bucket (similarity.py) →
    exact cosine verify within buckets only. Pass ``dim`` in pipelines to
    avoid the driver-side schema-probe job.

    RECALL is governed by the AND/OR construction, not just cost: a pair at
    cosine s agrees with one hyperplane with p = 1 − arccos(s)/π, so a
    single full-width bucket (``bands=1``) collides with probability
    p^planes — at 20 planes even a 0.95-cosine pair is found only ~12% of
    the time. ``bands`` > 1 splits the planes into OR'd slices (width w =
    planes/bands): collision = 1 − (1−p^w)^bands, e.g. 0.88 instead of 0.43
    at 8 planes / 2 bands for a 0.95-cosine pair. Banding multiplies join
    cost by ≤ bands (Σ bucket² per band over wider buckets) — the standard
    recall/cost dial.

    COST: the in-bucket verify is Σ bucket² ≈ N²/2^w per band, so a FIXED
    plane count goes quadratic as the corpus grows — pass ``n_planes=None``
    with a ``corpus_count`` hint to derive planes ≈ log2(N/target_bucket_size)
    (similarity.planes_for_corpus), and scale ``bands`` with it to keep the
    per-band width (and thus recall) roughly constant."""
    from .similarity import cosine_expr, hyperplane_bucket, planes_for_corpus

    if n_planes is None:
        if corpus_count is None:
            raise ValueError("n_planes=None requires a corpus_count hint")
        n_planes = planes_for_corpus(corpus_count)
        if bands > 1:
            # Round the DERIVED count up to a multiple of bands (an odd
            # auto-scaled count must not crash the documented
            # n_planes=None + corpus_count call); an EXPLICIT mismatch
            # still raises below — the caller stated both numbers.
            n_planes = -(-n_planes // bands) * bands
    b = hyperplane_bucket(
        embeddings,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        seed=seed,
    )
    if bands > 1:
        b = b.select(id_col, vec_col, _bit_bands("bucket", n_planes, bands)).select(
            id_col, vec_col, "band.band_idx", "band.band_val"
        )
        join_keys = ["band_idx", "band_val"]
    else:
        join_keys = ["bucket"]
    a, c = b.alias("a"), b.alias("b")
    pairs = (
        a.join(c, join_keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine"),
        )
    )
    out = pairs.filter(F.col("cosine") >= threshold)
    # a pair sharing several bands matches once per band — dedup after verify
    return out.distinct() if bands > 1 else out


def _verify_candidate_pairs(
    left_docs: DataFrame,
    right_docs: DataFrame,
    cand: DataFrame,
    left_key: str,
    right_key: str,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    small_side: str,
) -> DataFrame:
    """The LSH→exact-verify stage shared by ``cross_corpus_near_dups`` and
    ``incremental_near_dups``: exact Jaccard over candidate pairs only.
    Each side's distinct shingles are restricted to its candidate ids
    BEFORE the shingle equi-join (broadcast semi-joins — candidate id
    lists are small by construction), per-doc sizes derive from those
    candidate-restricted tables (a second full-corpus shingle explode
    would double the dominant cost at 100 TB), and the ``small_side``'s
    per-doc size table is broadcast — blocklists and crawl increments are
    small; the corpus side never is."""
    if small_side not in ("left", "right"):
        raise ValueError(f"small_side must be 'left' or 'right', got {small_side!r}")

    l_ids = cand.select(left_key).distinct()
    r_ids = cand.select(right_key).distinct()
    lsh_t = _distinct_shingles(left_docs, id_col, text_col, shingle_n, left_key).join(
        F.broadcast(l_ids), left_key, "left_semi"
    )
    rsh_t = _distinct_shingles(right_docs, id_col, text_col, shingle_n, right_key).join(
        F.broadcast(r_ids), right_key, "left_semi"
    )
    inter = (
        lsh_t.join(rsh_t, "shingle")
        .groupBy(left_key, right_key)
        .agg(F.count(F.lit(1)).alias("common"))
        .join(cand, [left_key, right_key], "left_semi")
    )
    sa = lsh_t.groupBy(left_key).agg(F.count(F.lit(1)).alias("sa"))
    sb = rsh_t.groupBy(right_key).agg(F.count(F.lit(1)).alias("sb"))
    if small_side == "left":
        sa = F.broadcast(sa)
    else:
        sb = F.broadcast(sb)
    return (
        inter.join(sa, left_key)
        .join(sb, right_key)
        .select(
            left_key,
            right_key,
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_corpus_near_dups(
    corpus: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-decontamination primitive: (corpus_id, block_id, jaccard)
    for every corpus doc within ``threshold`` shingle-Jaccard of ANY
    blocklist doc (eval/benchmark sets, licensed text, known-bad pages).

    Same LSH→exact-verify composition as the in-corpus path, but the band
    join is strictly CORPUS × BLOCKLIST — corpus-internal duplicates are
    someone else's job (``minhash_lsh_candidates``) and never inflate the
    buckets here. The verify stage (``_verify_candidate_pairs``) joins each
    side's candidate-restricted distinct shingles; blocklist-side tables
    (candidate ids, shingle sizes) are broadcast — a blocklist is
    benchmarks, not a second corpus."""
    cb = minhash_banded(corpus, id_col, text_col, k, bands, shingle_n)
    bb = minhash_banded(blocklist, id_col, text_col, k, bands, shingle_n)
    cand = (
        cb.alias("c")
        .join(F.broadcast(bb.alias("b")), ["band_idx", "band_hash"])
        .select(F.col("c.id").alias("corpus_id"), F.col("b.id").alias("block_id"))
        .distinct()
    )
    return _verify_candidate_pairs(
        corpus, blocklist, cand, "corpus_id", "block_id",
        id_col, text_col, shingle_n, threshold, small_side="right",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup CLUSTERS from a verified pair list: transitive-closure
    grouping (the SlimPajama-style step the keep-smallest pair rule in
    curate_corpus deliberately approximates — see its stage-2 note), with
    ``component_id`` = the minimum doc id in the component. Returns one row
    per node that appears in ``pairs``; callers union singletons back (a
    doc with no pairs is its own component).

    Algorithm: min-label propagation. Labels start as each node's own id;
    every iteration each node takes the min of its label and its neighbors'
    labels (one join edges⋈labels + one groupBy-min — two bounded shuffles
    per iteration, map-side combine on the min), until a fixpoint. Converges
    in O(graph diameter) iterations; near-dup graphs are overwhelmingly tiny
    cliques and short chains, so the loop is shallow. The driver-side
    convergence check (one count per iteration) is the same
    inherently-iterative pattern as IVF's Lloyd loop. ``max_iter`` bounds a
    pathological chain and raises LOUDLY rather than returning an
    unconverged (wrong) labeling. Deterministic at any parallelism: min is
    order-free.

    Each round's label table is eagerly ``localCheckpoint``-ed, which both
    materializes it and TRUNCATES its logical plan. Caching alone is not
    enough for an iterative dataflow: persist() substitutes the physical
    scan but the logical plan still nests every prior round (the union+join
    over the previous labels), so the tree Catalyst re-analyzes doubles per
    iteration and a deep-chain graph OOMs the DRIVER in the optimizer
    before any executor touches data. Trade-off: a local checkpoint is not
    recomputable after executor loss; a cluster run that must survive lost
    executors should ``spark.sparkContext.setCheckpointDir(...)`` and swap
    in reliable ``.checkpoint()`` — identical plan shape, durable storage.

    At 100 TB: iterations scale with diameter, not corpus size; for
    adversarial long-chain graphs switch to the large-star/small-star
    alternating scheme (O(log n) rounds) — not needed for dedup graphs and
    deliberately not implemented until a real corpus demands it.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    try:
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            msgs = sym.join(labels, sym["src"] == labels["node"]).select(
                F.col("dst").alias("node"), F.col("label")
            )
            # Eager by default: materializes this round's table AND cuts the
            # plan back to a leaf (see docstring — persist() would leave the
            # plan growing 2x/round). Superseded rounds' checkpoint RDDs are
            # released by the context cleaner once dereferenced here.
            new_labels = (
                labels.unionByName(msgs)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint()
            )
            changed = (
                new_labels.join(
                    labels.withColumnRenamed("label", "_old"), on="node"
                )
                .filter(F.col("label") < F.col("_old"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                # Already materialized by its checkpoint: consuming the
                # result never replays the iteration chain, and there is no
                # cache-manager entry for the caller to release.
                return labels.select(
                    F.col("node").alias("doc_id"), F.col("label").alias("component_id")
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations — "
            "the pair graph has a longer chain than near-dup graphs should; "
            "raise max_iter or switch to a star-contraction scheme"
        )
    finally:
        sym.unpersist()


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): k-means clusters as the BLOCKING stage, exact cosine verify
    WITHIN clusters only, keep the min-id representative of every near-dup
    pair. Complements ``embedding_near_dups``: hyperplane LSH blocks by
    random projections (recall provable per pair), k-means blocks by learned
    density (buckets adapt to the corpus — tight semantic clusters land
    together even when random projections would split them).

    The cluster fit is the deterministic seeded Lloyd loop shared with IVF
    ANN (similarity._ivf_fit — centroids rounded 6dp per collect, so the fit
    is parallelism-invariant). Verify cost is Σ cluster² — measure with
    similarity.bucket_stats(assigned, ["centroid_id"]) and raise
    ``n_centroids`` (≈ sqrt(N) keeps E[cluster] = sqrt(N)) before running
    the pairwise stage at scale. Cosines are rounded 6dp BEFORE the
    threshold compare (repo float convention); zero-norm vectors have NULL
    cosine → never near-dups → always kept. NULL ids never pair (< is
    NULL-rejecting) and survive the anti-join — id hygiene is the caller's
    contract, matching the other dedup ops.

    Returns the KEPT rows: (id, centroid_id) — drop set = ids appearing as
    the larger id of any within-cluster pair with cosine >= threshold. The
    result carries ``.assignments`` (the internally persisted assignment
    table); long-lived sessions unpersist it after consuming.
    """
    from .similarity import cosine_expr, ivf_assignments

    assigned = ivf_assignments(
        embeddings, n_centroids, iterations, id_col, vec_col, dim
    ).persist()
    # The assignment projection (full source scan + per-row argmax over all
    # centroid literals) feeds THREE plan branches — both self-join sides
    # and the anti-join left. Catalyst does not CSE across branches, so
    # without the persist it would execute three times. The cache rides in
    # the returned frame's lineage; the result carries ``.assignments`` as
    # the unpersist handle (same contract as tfidf_keywords.doc_terms).
    slim = assigned.select(id_col, vec_col, "centroid_id")
    a, b = slim.alias("a"), slim.alias("b")
    drops = (
        a.join(b, "centroid_id")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(
            F.round(
                cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6
            )
            >= threshold
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    out = assigned.join(drops, id_col, "left_anti").select(id_col, "centroid_id")
    out.assignments = assigned  # unpersist handle — see the persist note
    return out


def build_minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistable MinHash LSH band index over a corpus: (id, band_idx,
    band_hash, mh_k, mh_bands, mh_n). THE incremental-ingestion primitive at
    100 TB — the full corpus is shingled and hashed exactly ONCE, the index
    (bands × 16 bytes per doc, ~thousandths of the corpus size) is written
    to a table, and every future crawl increment joins against it without
    touching base text (see ``incremental_near_dups``). The three config
    columns pin the hash geometry; they are constant, so parquet RLE stores
    them for free, and the increment path REFUSES an index whose geometry
    differs from its own — a k/bands/shingle mismatch would silently produce
    zero collisions instead of an error."""
    banded = minhash_banded(docs, id_col, text_col, k, bands, shingle_n)
    return banded.select(
        "id",
        "band_idx",
        "band_hash",
        F.lit(int(k)).alias("mh_k"),
        F.lit(int(bands)).alias("mh_bands"),
        F.lit(int(shingle_n)).alias("mh_n"),
    )


def _index_config(index: DataFrame) -> tuple[int, int, int] | None:
    """Read the geometry columns off one index row (None for an EMPTY index
    — vacuously compatible). One tiny driver-side action per increment run,
    same class as the miner's max-leaf scalar."""
    row = index.select("mh_k", "mh_bands", "mh_n").first()
    return None if row is None else (row.mh_k, row.mh_bands, row.mh_n)


def incremental_near_dups(
    increment: DataFrame,
    index: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(inc_id, base_id, jaccard) for every increment doc within
    ``threshold`` shingle-Jaccard of a doc already in the indexed base
    corpus — WITHOUT re-hashing the base. The realistic crawl-ingestion
    shape: the base corpus was indexed once (``build_minhash_index``); per
    increment, only the increment is shingled, its band table is BROADCAST
    against the big stored index (the increment is small by definition;
    broadcasting the index side would ship the whole corpus's bands to
    every task), and exact-Jaccard verification re-reads base TEXT only for
    the candidate ids — a semi-join point lookup on the base table, never a
    scan. Increment-internal duplicates are deliberately out of scope
    (``minhash_lsh_candidates`` on the increment alone — it is small).

    An alternative pure-index design stores the k minhash values and
    verifies by signature-agreement fraction, never touching base text; it
    trades a k×8-byte-per-doc bigger index and an ESTIMATED jaccard (±1/√k)
    for zero base reads. This implementation keeps verification exact —
    candidate sets are tiny, and exactness is what the oracle can attest.

    Raises ValueError if the index geometry columns disagree with
    (k, bands, shingle_n)."""
    cfg = _index_config(index)
    if cfg is not None and cfg != (k, bands, shingle_n):
        raise ValueError(
            f"index geometry {cfg} != requested (k={k}, bands={bands}, "
            f"shingle_n={shingle_n}); rebuild the index or match its config"
        )
    inc_bands = minhash_banded(increment, id_col, text_col, k, bands, shingle_n)
    cand = (
        index.alias("x")
        .join(F.broadcast(inc_bands.alias("i")), ["band_idx", "band_hash"])
        .select(F.col("i.id").alias("inc_id"), F.col("x.id").alias("base_id"))
        .distinct()
    )
    # Verify via the shared stage; base text is touched only inside it,
    # pruned to candidate ids before the shingle explode — the point-lookup
    # read, not a corpus scan. small_side="left": here the INCREMENT's
    # per-doc tables broadcast (the mirror of cross_corpus_near_dups).
    return _verify_candidate_pairs(
        increment, base_docs, cand, "inc_id", "base_id",
        id_col, text_col, shingle_n, threshold, small_side="left",
    )


def dedup_against_index(
    increment: DataFrame,
    index: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-increment admission audit: (id, n_base_dups, kept) for every
    increment doc — kept=false iff it is a verified near-dup of ANY indexed
    base doc. Returns the decision TABLE rather than the filtered frame:
    the assignment is the auditable artifact (same contract as
    sample.split_corpus), and the filtered corpus is one
    ``filter(kept)`` away."""
    pairs = incremental_near_dups(
        increment, index, base_docs, id_col, text_col, threshold, k, bands, shingle_n
    )
    counts = pairs.groupBy("inc_id").agg(F.count(F.lit(1)).alias("n_base_dups"))
    return (
        increment.select(F.col(id_col).alias("id"))
        .join(F.broadcast(counts), F.col("id") == F.col("inc_id"), "left")
        .select(
            "id",
            F.coalesce("n_base_dups", F.lit(0)).cast("long").alias("n_base_dups"),
            (F.coalesce("n_base_dups", F.lit(0)) == 0).alias("kept"),
        )
    )


def extend_minhash_index(
    index: DataFrame,
    admitted_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index MAINTENANCE — the step that closes the incremental-ingestion
    loop: after a crawl's survivors are admitted into the corpus, fold their
    band rows into the index so the NEXT crawl dedups against them too.
    Geometry is read from the index itself (the stored columns are the
    source of truth; callers cannot accidentally hash the new docs with a
    different config), and the result is a pure union — append-friendly for
    a parquet/Iceberg-backed index table: in practice write ONLY the
    ``build_minhash_index(admitted, ...)`` delta with mode=append.

    Raises on an empty index: there is no geometry to inherit, and silently
    picking defaults would fork the index's hash space."""
    cfg = _index_config(index)
    if cfg is None:
        raise ValueError(
            "cannot extend an EMPTY index (no geometry to inherit); "
            "build_minhash_index the first corpus slice instead"
        )
    k, bands, shingle_n = cfg
    return index.unionByName(
        build_minhash_index(admitted_docs, id_col, text_col, k, bands, shingle_n)
    )
