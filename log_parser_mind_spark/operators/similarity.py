"""Similarity search over embedding columns (array<float>).

Two paths:
  brute-force top-k  — exact cosine for every (query, corpus) pair via native
                       expressions (zip_with dot product), Window row_number
                       ≤ k. Correctness baseline; O(Q·N).
  LSH-bucketed       — sign-of-dot with R seeded hyperplanes → bucket key;
                       candidates share a bucket. ``probe_hamming=1`` expands
                       each QUERY to its bucket plus every 1-bit-flip
                       neighbor bucket (multi-probe), recovering neighbors
                       that sit just across one hyperplane — essential at
                       the plane counts large corpora need. Scale path:
                       cost Σ bucket² ≪ N².
  IVF-lite           — deterministic k-means (hash-seeded init, fixed Lloyd
                       iterations, all DataFrame aggs) → probe nearest
                       centroids only.

Plane-count sizing: E[bucket] = N / 2^planes, and the self-join/probe cost is
Σ bucket² ≈ N² / 2^planes for roughly uniform buckets — so planes must grow
with log2(N) to keep cost linear-ish. ``planes_for_corpus`` derives
ceil(log2(N / target_bucket_size)) from a corpus-count hint; pass
``n_planes=None`` + ``corpus_count=`` to use it.

Hyperplanes are generated from a seeded numpy RNG on the driver and shipped
as literal arrays — deterministic across cluster sizes.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F


def dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_expr(a, b):
    # try_divide: a zero-norm vector (empty/NULL text embedded) yields NULL
    # cosine instead of raising DIVIDE_BY_ZERO under ANSI mode — NULLs rank
    # last under desc ordering, so zero vectors simply never place in top-k.
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are the small side → broadcast;
    the corpus streams once, never shuffles (ranking shuffles only Q·N
    score rows, which AQE coalesces)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def planes_for_corpus(corpus_count: int, target_bucket_size: int = 1024) -> int:
    """Plane count keeping E[bucket] ≈ target_bucket_size: the bucketed join
    costs Σ bucket² ≈ N²/2^planes (uniform case), so planes must track
    log2(N) — a FIXED plane count is quadratic in N at scale."""
    return max(4, math.ceil(math.log2(max(2.0, corpus_count / target_bucket_size))))


def hyperplane_bucket(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = 8,
    seed: int = 42,
    corpus_count: int | None = None,
) -> DataFrame:
    """Add a sign-pattern LSH ``bucket`` column (bit i = sign of ⟨v, h_i⟩).
    ``n_planes=None`` derives the count from ``corpus_count`` via
    ``planes_for_corpus`` (a count hint, NOT a triggered job)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if n_planes is None:
        if corpus_count is None:
            raise ValueError("n_planes=None requires a corpus_count hint")
        n_planes = planes_for_corpus(corpus_count)
    # One server-parsed expression: dim×planes F.lit calls over py4j took
    # ~1.2 s to build at dim=64 with 12 planes, this takes ~0.15 s. It is
    # dot_expr spelled in SQL, over DOUBLE literals (`D` suffix: repr
    # round-trips the float exactly, and a bare `0.1` parses as a decimal),
    # so the sign test is the same double arithmetic the oracles replicate.
    vec = "`" + vec_col.replace("`", "``") + "`"
    bits = " + ".join(
        f"CASE WHEN aggregate(zip_with({vec}, array("
        + ", ".join(f"{x!r}D" for x in plane)
        + "), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v) > 0"
        f" THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed))
    )
    return df.withColumn("bucket", F.expr(f"CAST(0 AS BIGINT) + {bits}"))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 8,
    seed: int = 42,
    dim: int | None = None,
    probe_hamming: int = 1,
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within shared LSH buckets.

    ``probe_hamming=1`` (the default) multi-probes: each query joins its own
    bucket PLUS every bucket one plane-sign flip away (n_planes+1 probe rows
    per query, query side only — the corpus is never expanded or re-read).
    At the plane counts big corpora need, single-probe recall collapses
    because a true neighbor only has to land on the far side of ONE
    hyperplane to be missed; probing restores it at (planes+1)× the probe
    fan-out, still Σ bucket² overall. Probe buckets are distinct values and
    each corpus vector lives in exactly one bucket, so a (query, neighbor)
    pair matches at most one probe row — no dedup pass is needed.

    Pass ``dim`` explicitly in pipelines — the fallback infers it with a
    driver-side ``.first()``, which triggers a job during plan construction
    and stalls pipelined use."""
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if n_planes is None:
        if corpus_count is None:
            raise ValueError("n_planes=None requires a corpus_count hint")
        n_planes = planes_for_corpus(corpus_count)
    qb = hyperplane_bucket(queries, id_col, vec_col, dim, n_planes, seed).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    if probe_hamming == 1:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        )
        qb = qb.select("query_id", "qv", F.explode(probes).alias("bucket"))
    cb = hyperplane_bucket(corpus, id_col, vec_col, dim, n_planes, seed).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    scored = (
        F.broadcast(qb)
        .join(cb, "bucket")
        .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def bucket_stats(bucketed: DataFrame, cols: list[str]) -> DataFrame:
    """Bucket-size distribution for the Σ bucket² cost model: one row of
    (n_buckets, max_bucket, sum_sq). ``sum_sq`` is the bucketed join's row
    output; ``max_bucket`` is its skew ceiling. Run this at a scale notch
    whenever plane/band counts change — it is the evidence that the bucketing
    actually bounds the join (recorded by bench/bucket_stats_bench.py, removed;
    the script is at git revision 30665da)."""
    sizes = bucketed.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )


def ivf_assignments(
    df: DataFrame,
    n_centroids: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-lite list assignment — see ``_ivf_fit`` for the k-means details."""
    assigned, _ = _ivf_fit(df, n_centroids, iterations, id_col, vec_col, dim)
    return assigned


def _ivf_fit(
    df: DataFrame,
    n_centroids: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF-lite: deterministic k-means over DataFrame aggs, returning the
    assignments AND the fitted centroids (``ivf_topk`` probes them). Init =
    the vectors whose xxhash64(id) are the n smallest (pure function of
    ids); each Lloyd iteration is one groupBy(avg per dimension). k-means is
    inherently iterative with driver-side centroid collection; ``dim`` only
    avoids the extra schema-probe job.

    Centroid coordinates are rounded to 6 decimals at each driver collect:
    float avg aggregation is combine-order-dependent in the last ulps, so
    unrounded centroids could flip near-tie assignments between parallelism
    levels — rounding absorbs ~1e-12 relative summation noise and keeps the
    whole fit parallelism-invariant (the same reason the contract queries
    round their cosines)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    init = (
        df.select(id_col, vec_col, F.xxhash64(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [[round(float(x), 6) for x in r[vec_col]] for r in init]

    def assign(cents):
        arr = F.array(
            *[
                F.struct(
                    F.lit(ci).alias("cid"),
                    dot_expr(F.col(vec_col), F.array(*[F.lit(x) for x in c])).alias("dot"),
                    (norm_expr(F.array(*[F.lit(x) for x in c])) * norm_expr(F.col(vec_col))).alias("nn"),
                )
                for ci, c in enumerate(cents)
            ]
        )
        # try_divide + coalesce: a zero-norm vector (hashing_embedding_table
        # emits them for token-less docs) or a collapsed zero centroid makes
        # cosine undefined — under Spark 4's default ANSI mode a raw division
        # would throw DIVIDE_BY_ZERO mid-fit. Undefined pairs score -2.0
        # (below any real cosine), so zero vectors still assign
        # deterministically (max struct → highest cid among the ties).
        best = F.array_max(
            F.transform(
                arr,
                lambda s: F.struct(
                    F.coalesce(F.try_divide(s["dot"], s["nn"]), F.lit(-2.0)).alias("cos"),
                    s["cid"].alias("cid"),
                ),
            )
        )
        return df.select(id_col, vec_col, best["cid"].alias("centroid_id"))

    assigned = assign(centroids)
    for _ in range(iterations):
        # posexplode → groupBy(centroid, dim) keeps the plan THREE columns
        # wide at any dimensionality — `dim` separate avg agg expressions
        # would be a codegen blowup at dim=1536. The collect stays k×dim
        # values either way (inherent to Lloyd iterations).
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("dim_idx", "val")
            )
            .groupBy("centroid_id", "dim_idx")
            .agg(F.avg("val").alias("avg"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r.centroid_id, {})[r.dim_idx] = round(float(r.avg), 6)
        centroids = [
            [by_cid[cid][i] for i in range(dim)] for cid in sorted(by_cid)
        ]
        assigned = assign(centroids)
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    iterations: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """J5/X5 scale path #2 — IVF approximate top-k: fit inverted lists over
    the corpus (``_ivf_fit``), probe each query's ``n_probe``
    nearest-centroid lists, exact cosine + rank WITHIN those lists only.

    100 TB shape: the corpus pass is the k-means fit (one groupBy per Lloyd
    iteration, map-side combined) plus ONE assignment projection; the search
    join is query→list on ``centroid_id``, so each query scans ≈
    n_probe/n_centroids of the corpus instead of all of it — the standard
    IVF recall/cost dial, complementary to the hyperplane-LSH path
    (``lsh_topk``): IVF adapts to the data's cluster structure, LSH needs no
    fit. Centroids ride the plan as literal arrays (n_centroids × dim
    values — fine at the 16-4096 list counts IVF uses; a million-centroid
    index would broadcast-join a centroid TABLE instead). Deterministic at
    any parallelism: seeded init + rounded centroids (see ``_ivf_fit``),
    ties broken by neighbor id.

    Reference parity: the reference's Qdrant store (vector_store.go) does
    exact search over its collection; this adds the bounded-probe variant a
    100 TB corpus needs while ``brute_force_topk`` keeps exact parity."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    assigned, centroids = _ivf_fit(
        corpus, n_centroids, iterations, id_col, vec_col, dim
    )
    # The fit can collapse below n_centroids lists (duplicate-heavy corpora:
    # duplicate init vectors tie every assignment to one cid and empty lists
    # are dropped). slice(-start) past the array length silently yields []
    # in Spark — clamping keeps every query probing ALL surviving lists
    # instead of silently matching nothing.
    n_probe = min(n_probe, len(centroids))
    cent_structs = F.array(
        *[
            F.struct(
                cosine_expr(F.col(vec_col), F.array(*[F.lit(x) for x in c])).alias("cos"),
                F.lit(ci).alias("cid"),
            )
            for ci, c in enumerate(centroids)
        ]
    )
    # Top n_probe centroids per query: sort the (cos, cid) structs ascending
    # (struct order = field order), probe the last n_probe — all JVM.
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.slice(F.array_sort(cent_structs), -n_probe, n_probe)
        ).alias("probe"),
    ).select("query_id", "qv", F.col("probe.cid").alias("centroid_id"))
    cand = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    # Broadcast the query-probe side: centroid_id has at most n_centroids
    # distinct values, so a shuffle join would hash the WHOLE corpus into
    # ≤ n_centroids partition groups (parallelism collapse + list-size skew).
    # Broadcasting keeps the corpus un-shuffled — the same rule
    # brute_force_topk/lsh_topk follow for their query sides.
    scored = F.broadcast(probes).join(cand, "centroid_id").select(
        "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
