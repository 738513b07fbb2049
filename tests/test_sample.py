"""Deterministic sampling + sequence packing (operators/sample): per-row
MINSTD predicate pushes to the scan and is partitioning-invariant; packs
respect the greedy budget bound.
"""

import pytest

from pyspark.sql import functions as F

from log_parser_mind_spark.operators import sample as sm


def test_sample_invariant_under_partitioning_and_pushes_down(spark, tmp_path):
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)

    a = sorted(r.doc_id for r in sm.deterministic_sample(src, 0.1, salt=9).collect())
    b = sorted(
        r.doc_id
        for r in sm.deterministic_sample(src.repartition(17), 0.1, salt=9).collect()
    )
    assert a == b  # unlike df.sample, immune to partitioning
    assert 0.07 < len(a) / 10_000 < 0.13  # fraction lands near target

    # The predicate is pure column arithmetic — it must reach the scan node
    # as a data filter (row-group stats can skip), not a post-scan Filter
    # only. Spark 4 shows scan-level filters in PushedFilters.
    df = sm.deterministic_sample(src, 0.1, salt=9)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Filter" in plan and "BatchEvalPython" not in plan

    with pytest.raises(ValueError):
        sm.deterministic_sample(src, 1.5)


def test_stratified_fractions_track_targets(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(20_000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sm.stratified_sample(docs, {"en": 0.2, "de": 0.8}, strata_col="lang", salt=1)
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan  # a pure per-row filter, no shuffle
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.17 < got["en"] / 10_000 < 0.23
    assert 0.77 < got["de"] / 10_000 < 0.83
    # Unlisted strata use default_fraction (0): nothing leaks through.
    extra = spark.createDataFrame([(99_999_999, "fr")], "doc_id long, lang string")
    assert sm.stratified_sample(extra, {"en": 1.0}, strata_col="lang").count() == 0


def test_pack_corpus_budget_bound_and_determinism(spark):
    import random

    rnd = random.Random(5)
    rows = [(i, " ".join("w" for _ in range(rnd.randint(5, 200)))) for i in range(2_000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 512
    packs = sm.pack_corpus(docs, budget_tokens=budget, n_shards=8).persist()

    # Every doc appears exactly once.
    assert packs.count() == 2_000
    assert packs.select("doc_id").distinct().count() == 2_000

    # Greedy bound: a pack exceeds the budget by at most its LAST doc, so
    # sum_tokens - max_doc_tokens < budget for every pack.
    agg = packs.groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("s"), F.max("n_tokens").alias("m")
    )
    assert agg.filter(F.col("s") - F.col("m") >= budget).count() == 0
    # Packs actually fill (not one doc per pack): mean fill ≥ half budget.
    mean_fill = agg.agg(F.avg("s")).collect()[0][0]
    assert mean_fill > budget / 2

    again = sm.pack_corpus(docs.repartition(13), budget_tokens=budget, n_shards=8)
    assert sorted(map(tuple, packs.collect())) == sorted(map(tuple, again.collect()))
    packs.unpersist()


def test_sample_survives_snowflake_scale_keys(spark):
    """Review r4: the raw key is reduced mod M BEFORE the first multiply —
    64-bit snowflake-style ids must not hit ANSI ARITHMETIC_OVERFLOW."""
    base = 1_200_000_000_000_000_000
    docs = spark.range(5_000).select((F.col("id") + base).alias("doc_id"))
    kept = sm.deterministic_sample(docs, 0.2, salt=4).count()
    assert 0.15 < kept / 5_000 < 0.25


def test_weighted_mixture_independence_and_tags(spark):
    """Each source draws independent, deterministic coin flips: shared keys
    are NOT kept in lockstep across sources, fractions land near target,
    and tags identify provenance."""
    docs = spark.range(10_000).select(F.col("id").alias("doc_id"),
                                      F.lit("t").alias("text"))
    mix = sm.weighted_mixture(
        [("a", docs, 0.5), ("b", docs, 0.5)], salt=11
    ).persist()
    counts = {r.mix_source: r.n for r in
              mix.groupBy("mix_source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.45 < counts["a"] / 10_000 < 0.55
    assert 0.45 < counts["b"] / 10_000 < 0.55
    both = (mix.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
            .filter("n = 2").count())
    # Independent flips → ~25% kept by both; lockstep would give ~50%.
    assert 0.20 < both / 10_000 < 0.31
    again = sm.weighted_mixture([("a", docs.repartition(9), 0.5), ("b", docs, 0.5)], salt=11)
    assert sorted(map(tuple, mix.collect())) == sorted(map(tuple, again.collect()))
    mix.unpersist()

    with pytest.raises(ValueError):
        sm.weighted_mixture([])


def test_global_shuffle_is_deterministic_permutation(spark):
    """(shard, pos_in_shard) is a bijection over the corpus — contiguous
    0-based positions per shard — identical under repartitioning, and the
    order within a shard is NOT the key order (it is actually shuffled)."""
    from log_parser_mind_spark.operators.sample import global_shuffle

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = global_shuffle(docs, n_shards=8, salt=3)
    rows = out.collect()
    assert len(rows) == 500
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        poss = sorted(r.pos_in_shard for r in rs)
        assert poss == list(range(len(rs)))  # contiguous, 0-based
        in_pos_order = [r.doc_id for r in sorted(rs, key=lambda r: r.pos_in_shard)]
        assert in_pos_order != sorted(in_pos_order)  # genuinely permuted

    again = {
        (r.doc_id, r.shard, r.pos_in_shard)
        for r in global_shuffle(docs.repartition(13), n_shards=8, salt=3).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos_in_shard) for r in rows}

    with pytest.raises(ValueError):
        global_shuffle(docs, n_shards=0)


def test_split_corpus_disjoint_exhaustive(spark):
    """One label per row (disjoint + exhaustive by construction), realized
    proportions near the configured ones, repartition-invariant, and loud
    errors on bad fraction sums."""
    from log_parser_mind_spark.operators.sample import split_corpus

    docs = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt=3)
    rows = out.collect()
    assert len(rows) == 4000
    counts = {}
    for r in rows:
        counts[r.split] = counts.get(r.split, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02

    again = {(r.doc_id, r.split) for r in
             split_corpus(docs.repartition(9), {"train": 0.8, "val": 0.1, "test": 0.1}, salt=3).collect()}
    assert again == {(r.doc_id, r.split) for r in rows}

    with pytest.raises(ValueError):
        split_corpus(docs, {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        split_corpus(docs, {})


def test_pack_corpus_rejects_nonpositive_budget(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget_tokens"):
        sm.pack_corpus(docs, budget_tokens=0)
    with pytest.raises(ValueError, match="budget_tokens"):
        sm.pack_corpus(docs, budget_tokens=-7)


def test_dsir_select_matches_python_mirror(spark):
    """DSIR selection is a pure function of the data: a Python mirror of the
    bucket hash, Laplace log-ratio, per-doc sum, and MINSTD-Gumbel keys must
    reproduce Spark's weights/keys exactly (6dp) on a tiny corpus, and the
    target-like doc must outweigh the disjoint-vocab doc."""
    import math

    from log_parser_mind_spark.operators.sample import MINSTD_A, MINSTD_M, dsir_select

    P, B, SALT, N = 1_000_000_007, 64, 3, 2
    raw_rows = [
        (0, "alpha beta alpha beta"),
        (1, "zzz qqq rrr sss"),
        (2, "alpha beta gamma"),
        (3, "x"),          # < n tokens → log_weight 0
        (4, None),
    ]
    tgt_rows = [(10, "alpha beta alpha beta alpha")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dsir_select(raw, tgt, k=5, n=N, buckets=B, salt=SALT).collect()
    }

    def toks(t):
        return [x for x in (t or "").lower().split() if x]

    def bucket(gram):
        acc = 0
        for t in gram:
            acc = (acc * 131 + (31 * ord(t[0]) + len(t.encode())) % P) % P
        return acc % B

    def grams(t):
        tt = toks(t)
        return [bucket(tt[i : i + N]) for i in range(len(tt) - N + 1)]

    ct, cr = {}, {}
    for _, t in tgt_rows:
        for b in grams(t):
            ct[b] = ct.get(b, 0) + 1
    for _, t in raw_rows:
        for b in grams(t):
            cr[b] = cr.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())

    def lw(t):
        return sum(
            math.log((ct.get(b, 0) + 1) / (tt + B)) - math.log((cr[b] + 1) / (tr + B))
            for b in grams(t)
        )

    def gumbel(doc_id):
        h = doc_id % MINSTD_M
        h = (h * MINSTD_A + SALT) % MINSTD_M
        h = (h * MINSTD_A) % MINSTD_M
        h = (h * MINSTD_A) % MINSTD_M
        u = (h + 1) / (MINSTD_M + 1)
        return -math.log(-math.log(u))

    assert set(got) == {0, 1, 2, 3, 4}  # k covers the whole corpus here
    for doc_id, text in raw_rows:
        assert got[doc_id].log_weight == pytest.approx(lw(text), abs=2e-6)
        assert got[doc_id].gumbel_key == pytest.approx(
            lw(text) + gumbel(doc_id), abs=2e-6
        )
    # Target-like doc beats the disjoint-vocab doc on weight alone.
    assert got[0].log_weight > got[1].log_weight
    assert got[3].log_weight == pytest.approx(0.0)
    assert got[4].log_weight == pytest.approx(0.0)


def test_dsir_select_validation_and_topk(spark):
    """Bad params raise before any job; k < corpus returns exactly k rows
    ordered by (gumbel_key desc, id); repartitioning the input changes
    nothing (engine-independence contract)."""
    from log_parser_mind_spark.operators.sample import dsir_select

    raw = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    tgt = raw.filter("doc_id % 2 = 0")
    for kw in ({"k": 0}, {"n": 0}, {"buckets": 0}):
        with pytest.raises(ValueError):
            dsir_select(raw, tgt, **{"k": 5, "n": 2, "buckets": 8, **kw})
    sel = dsir_select(raw, tgt, k=10, buckets=32, salt=1).collect()
    assert len(sel) == 10
    keys = [r.gumbel_key for r in sel]
    assert keys == sorted(keys, reverse=True)
    resel = dsir_select(raw.repartition(13), tgt.repartition(3), k=10, buckets=32, salt=1).collect()
    assert [(r.doc_id, r.log_weight, r.gumbel_key) for r in sel] == [
        (r.doc_id, r.log_weight, r.gumbel_key) for r in resel
    ]


def test_cap_per_group_exact_and_partition_invariant(spark):
    """Domain capping keeps exactly the k smallest (minstd, key) per group,
    whole groups under k survive, NULL group is one group, and the local
    prune makes the result invariant to input partitioning."""
    from tests.test_properties import minstd_py

    rows = (
        [(i, "a") for i in range(50)]
        + [(100 + i, "b") for i in range(3)]
        + [(200 + i, None) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sm.cap_per_group(df, 10, group_col="source", key_col="doc_id", salt=5)
    got = sorted(r.doc_id for r in out.collect())

    def expect(ids, k):
        return sorted(ids, key=lambda i: (minstd_py(i, 5), i))[:k]

    want = sorted(
        expect(range(50), 10) + expect(range(100, 103), 10) + expect(range(200, 205), 10)
    )
    assert got == want  # exact k-smallest per group; small groups whole

    scattered = sorted(
        r.doc_id
        for r in sm.cap_per_group(
            df.repartition(13), 10, group_col="source", key_col="doc_id", salt=5
        ).collect()
    )
    assert scattered == got  # local prune is partitioning-invariant

    with pytest.raises(ValueError, match="k must be"):
        sm.cap_per_group(df, 0)


def test_cap_per_group_key_shared_across_groups(spark):
    """A key value kept in one group must not smuggle its same-key row in
    ANOTHER group past that group's cap — the keep join matches (group,
    key), never key alone."""
    # Group 'a': keys 0..9; group 'b': the SAME keys 0..9. k=3 → exactly 3
    # rows per group, each group's own 3 smallest (minstd, key).
    rows = [(i, g) for g in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sm.cap_per_group(df, 3, group_col="source", key_col="doc_id", salt=1)
    per_group = {
        r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_group == {"a": 3, "b": 3}


def test_leakage_safe_split_pairs_never_straddle(spark):
    """The eval-integrity property: every pair (and its transitive chain)
    lands in ONE split; docs outside any pair split exactly as
    split_corpus; output stays exhaustive + disjoint over keyable rows."""
    from log_parser_mind_spark.operators.sample import leakage_safe_split, split_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    # chains and cliques crossing would-be split boundaries
    pairs = spark.createDataFrame(
        [(0, 7), (7, 150), (3, 9), (20, 21), (21, 22), (22, 23), (100, 199)],
        "id_a long, id_b long",
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs, pairs, fr, salt=13)
    got = {r.doc_id: (r.split_key, r.split) for r in out.collect()}
    assert len(got) == 200
    for a, b in [(0, 7), (7, 150), (3, 9), (20, 21), (21, 22), (22, 23), (100, 199)]:
        assert got[a] == got[b], (a, b, got[a], got[b])
    # chain 20-21-22-23 is ONE component keyed by its min id
    assert got[20][0] == 20 and got[23][0] == 20
    base = {r.doc_id: r.split for r in split_corpus(docs, fr, salt=13).collect()}
    paired = {0, 7, 150, 3, 9, 20, 21, 22, 23, 100, 199}
    for d in set(got) - paired:
        assert got[d] == (d, base[d]), d
    # component members draw by the component ROOT's band
    assert got[7][1] == base[0] and got[199][1] == base[100]

    again = {r.doc_id: (r.split_key, r.split)
             for r in leakage_safe_split(docs.repartition(7), pairs, fr, salt=13).collect()}
    assert again == got


def test_top_per_group_semantics_and_invariance(spark):
    """Window-free best-k per group: keeps the k largest order values with
    ascending key tiebreak (mirrorable as ORDER BY v DESC, key ASC), whole
    groups when smaller than k, the NULL group as a real group, ascending
    mode for smallest-first, and the same rows at any partitioning."""
    from log_parser_mind_spark.operators.sample import top_per_group

    rows = [
        # group a: clear top-2 = ids 3 (9.0) and 1 (7.0)
        ("a", 1, 7.0), ("a", 2, 5.0), ("a", 3, 9.0),
        # group b: boundary tie at 4.0 -> ascending key keeps id 10 over 11
        ("b", 9, 6.0), ("b", 10, 4.0), ("b", 11, 4.0),
        # singleton group survives whole
        ("c", 20, 1.0),
        # NULL group is a real group
        (None, 30, 2.0), (None, 31, 3.0), (None, 32, 4.0),
    ]
    df = spark.createDataFrame(rows, "g string, doc_id long, v double")
    kept = {(r.g, r.doc_id) for r in
            top_per_group(df, 2, group_col="g", order_col="v").collect()}
    assert kept == {("a", 3), ("a", 1), ("b", 9), ("b", 10), ("c", 20),
                    (None, 32), (None, 31)}

    low = {(r.g, r.doc_id) for r in
           top_per_group(df, 1, group_col="g", order_col="v", ascending=True).collect()}
    assert low == {("a", 2), ("b", 10), ("c", 20), (None, 30)}

    again = {(r.g, r.doc_id) for r in
             top_per_group(df.repartition(7), 2, group_col="g", order_col="v").collect()}
    assert again == kept

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        top_per_group(df, 0, group_col="g", order_col="v")


def test_select_within_token_budget_matches_prefix_rule(spark):
    """The scalable decomposition (value histogram + scalar boundary +
    boundary-only window) must equal the textbook global prefix rule on
    random corpora, including exact-edge budgets, zero and huge budgets,
    zero-token docs, and repartitioning."""
    import random

    from log_parser_mind_spark.operators.sample import select_within_token_budget

    rng = random.Random(7)
    rows = [
        (i, round(rng.choice([0.1, 0.25, 0.25, 0.5, 0.5, 0.5, 0.9]), 6),
         rng.choice([0, 1, 3, 10, 25]))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, quality double, n_tokens long")

    def prefix_rule(budget):
        out, cum = {}, 0
        for i, q, t in sorted(rows, key=lambda r: (-r[1], r[0])):
            cum += t
            out[i] = cum <= budget
        return out

    total = sum(t for _, _, t in rows)
    # include an exact value-edge budget: cumulative mass of the top value
    top_mass = sum(t for _, q, t in rows if q == 0.9)
    for budget in (0, 17, top_mass, total // 3, total, total + 5):
        got = {r.doc_id: r.kept for r in
               select_within_token_budget(df, budget).collect()}
        assert got == prefix_rule(budget), f"budget={budget}"

    got = {r.doc_id: r.kept for r in
           select_within_token_budget(df.repartition(9), 17).collect()}
    assert got == prefix_rule(17)

    with pytest.raises(ValueError, match="budget_tokens"):
        select_within_token_budget(df, -1)


def test_select_within_token_budget_null_rows_excluded(spark):
    """NULL quality/tokens rows are excluded from the decision table in
    BOTH the boundary and no-boundary paths (without the explicit filter
    they'd silently match neither quality branch and vanish only when a
    boundary exists — inconsistent exhaustiveness)."""
    from log_parser_mind_spark.operators.sample import select_within_token_budget

    df = spark.createDataFrame(
        [(1, 0.9, 10), (2, None, 10), (3, 0.5, None), (4, 0.5, 8)],
        "doc_id long, quality double, n_tokens long",
    )
    for budget in (12, 10_000):  # boundary at 0.5 / no boundary
        got = {r.doc_id: r.kept for r in
               select_within_token_budget(df, budget).collect()}
        assert set(got) == {1, 4}, (budget, got)
        assert all(v is not None for v in got.values())
