"""Giant-leaf scale guard (VERDICT r1 item 1): a tree leaf whose distinct-
signature count exceeds drain.giant_leaf_threshold is mined on a
deterministic hash-sample; the tail is assigned JVM-side against the mined
templates with singleton fallback. No single Python task scales with corpus
cardinality (reference analog: the global-mutex tree, drain.go:135-136,
simply degrades).
"""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from log_parser_mind_spark.config import DrainConfig, PipelineConfig
from log_parser_mind_spark.operators.drain_core import template_id_of, template_ids_batch
from log_parser_mind_spark.operators.miner import (
    _LEAF_KEYS,
    _assign_tail,
    _cluster_leaf_runs,
    _sig_stats,
    _split_giant_leaves,
    assign_templates,
    mine_assignments,
    templates_from_assignments,
)
from log_parser_mind_spark.operators.parse import masked_transcripts

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _transcripts(spark, texts):
    rows = [
        ("c%04d" % (i // 50), i % 50, "user", t, "none",
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i))
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _cfg(cap):
    return PipelineConfig(drain=DrainConfig(giant_leaf_threshold=cap))


def test_template_ids_batch_matches_scalar():
    sigs = ["login attempt key <*>", "", "résumé niño 日本語", "a", "x" * 500]
    assert template_ids_batch(sigs) == [template_id_of(s) for s in sigs]


def test_split_sizes_are_bounded_and_deterministic(spark):
    # One leaf with 3000 distinct sigs; cap 200 → sample ≈ 200, tail the rest.
    texts = [f"login attempt key zzqa{i:06d}x" for i in range(3000)]
    masked = masked_transcripts(_transcripts(spark, texts), 4)
    slim = (
        masked.groupBy("masked_sig").count()
        .select(
            F.size(F.split("masked_sig", " ")).alias("n_tokens"),
            F.element_at(F.split("masked_sig", " "), 1).alias("k0"),
            F.element_at(F.split("masked_sig", " "), 2).alias("k1"),
            "masked_sig",
        )
    )
    sample, tail = _split_giant_leaves(slim, 200)
    n_sample, n_tail = sample.count(), tail.count()
    assert n_sample + n_tail == 3000
    assert 100 <= n_sample <= 400  # ~Binomial(3000, 200/3000)
    # pure function of the signature → identical again
    s2, t2 = _split_giant_leaves(slim.repartition(7), 200)
    assert sorted(r.masked_sig for r in sample.collect()) == sorted(
        r.masked_sig for r in s2.collect()
    )


def test_homogeneous_giant_leaf_collapses_to_one_template(spark):
    # The VERDICT scenario: unmasked unique API-key-ish tokens — every sig
    # distinct, all in one leaf. Sample mining generalizes to one wildcard
    # template; the whole tail matches it JVM-side at sim=1.0.
    texts = [f"login attempt key zzqa{i:06d}x" for i in range(3000)]
    tr = _transcripts(spark, texts)
    cfg = _cfg(200)
    masked = masked_transcripts(tr, 4)
    assignments = mine_assignments(masked, cfg)
    templates = templates_from_assignments(assignments)
    tlist = templates.collect()
    assert len(tlist) == 1
    assert tlist[0].pattern == "login attempt key <*>"
    assert tlist[0].log_count == 3000

    parsed = assign_templates(masked, assignments, cfg)
    assert parsed.count() == 3000
    assert parsed.filter(F.col("template_id").isNull()).count() == 0
    assert parsed.filter("is_new").count() == 1  # exactly one creator row


def test_heterogeneous_tail_falls_back_to_singletons(spark):
    # Sigs share the leaf (same n_tokens + first two tokens) but differ in
    # 4 of 6 tokens → sim = 2/6 < 0.5: nothing merges. Tail sigs must become
    # singleton templates with FNV ids identical to the sequential path's.
    texts = [f"grp one tk{i}a tk{i}b tk{i}c tk{i}d" for i in range(600)]
    tr = _transcripts(spark, texts)
    cfg = _cfg(100)
    masked = masked_transcripts(tr, 4)
    assignments = mine_assignments(masked, cfg).collect()
    assert len(assignments) == 600
    for a in assignments:
        assert a.template == a.masked_sig  # nothing generalized
        assert a.template_id == template_id_of(a.template)
        assert a.creates  # every sig created its own template


def test_giant_leaf_guard_is_parallelism_invariant(spark):
    texts = [f"login attempt key zzqa{i:06d}x" for i in range(1500)]
    # mix in a second, normal leaf
    texts += [f"request completed in {i} ms" for i in range(500)]
    cfg = _cfg(150)

    def fingerprint(df):
        masked = masked_transcripts(df, 4)
        assignments = mine_assignments(masked, cfg)
        parsed = assign_templates(masked, assignments, cfg)
        return sorted(
            (r.conv_id, r.turn_idx, r.template_id, r.template, r.is_new)
            for r in parsed.select("conv_id", "turn_idx", "template_id", "template", "is_new").collect()
        )

    tr = _transcripts(spark, texts)
    assert fingerprint(tr.repartition(1)) == fingerprint(tr.repartition(16))


def test_tail_assignment_plan_is_broadcast_no_sort_merge(spark):
    """The giant-leaf tail join must broadcast the mined templates (never
    sort-merge/shuffle the tail on string keys) and re-spread the tail by
    signature so one leaf is not one task."""
    texts = [f"login attempt key zzqa{i:06d}x" for i in range(800)]
    masked = masked_transcripts(_transcripts(spark, texts), 4)
    a = mine_assignments(masked, _cfg(100))
    plan = a._sc._jvm.PythonSQLUtils.explainString(a._jdf.queryExecution(), "formatted")
    # tail→mined-template match and the giant-key semi-join are broadcast
    # (the per-sig stats join-back may statically plan as sort-merge — both
    # sides are one-row-per-distinct-sig; AQE converts it at runtime)
    assert plan.count("BroadcastHashJoin") >= 2
    # the tail repartition by signature appears as a hashpartitioning
    # exchange on masked_sig
    assert "hashpartitioning(masked_sig" in plan
    # no Python at row level: only FlatMapGroupsInPandas (sample clustering)
    # and MapInPandas (singleton ids over unmatched tail sigs)
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_guard_disabled_matches_legacy_exact_path(spark):
    """With a cap equal to the largest leaf, the guarded composition — split,
    cluster the sample, union the tail assignment — is row-identical to
    clustering every signature (sample == whole leaf, tail empty)."""
    texts = [f"login attempt key zzqa{i:06d}x" for i in range(60)]
    texts += [f"grp one tk{i}a tk{i}b tk{i}c tk{i}d" for i in range(40)]
    texts += [f"request completed in {i} ms" for i in range(100)]
    texts += [f"user u{i} logged out cleanly now" for i in range(50)]
    masked = masked_transcripts(_transcripts(spark, texts), 4)
    slim = _sig_stats(masked, False).select(*_LEAF_KEYS, "masked_sig", "first_conv", "first_turn")
    drain = DrainConfig()
    cap = slim.groupBy(*_LEAF_KEYS).count().agg(F.max("count")).collect()[0][0]
    assert cap == 60

    sample, tail = _split_giant_leaves(slim, cap)
    clustered = _cluster_leaf_runs(sample, drain.sim_threshold, False)
    guarded = clustered.unionByName(_assign_tail(tail, clustered, drain)).collect()
    exact = _cluster_leaf_runs(slim, drain.sim_threshold, False).collect()
    assert tail.count() == 0
    assert len(exact) == slim.count() == 60 + 40 + 1 + 50
    assert any(r.template != r.masked_sig for r in exact)  # something generalized
    key = lambda r: (r.masked_sig, r.template_id, r.template, r.creates)  # noqa: E731
    assert sorted(map(key, guarded)) == sorted(map(key, exact))
